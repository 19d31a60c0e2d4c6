"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload credit --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the seed
under ``.perfbench/``, starts a local Spark session on every core, runs
one untimed warm-up iteration, then runs iterations one at a time (closed
loop, one client) while another one still fits in ``--seconds``, at least
one.  The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(1, ROOT)
MIN_ITERATIONS = 1
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
# printed on the summary line, not in the result: the wall time of an
# iteration follows the shared host's speed too closely to hold a bound
SUMMARY = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from spans import DRIVER_SPANS, LAYER_COUNTERS, LAYER_SPANS

    units = {
        "wall_s": "s",
        "self_s": "s",
        "jobs": "count",
        "tasks": "count",
        "task_s": "s",
        "idle_core_s": "s",
        "task_skew": "ratio",
        "shuffle_bytes": "bytes",
    }
    out = {"session.start_s": "s"}
    for span in LAYER_SPANS:
        for counter in ("wall_s", "self_s", *LAYER_COUNTERS):
            out[f"{span}.{counter}"] = units[counter]
    for span in DRIVER_SPANS:
        out[f"{span}.wall_s"] = "s"
    out.update(
        {
            "fit.summary_rows": "count",
            "fit.py_bytes": "bytes",
            "drift.psi.scans": "count",
            "dedup.candidate_pairs": "count",
            "dedup.verified_pairs": "count",
            "dedup.pair_yield": "ratio",
            "trace.job_s": "s",
            "trace.layer_self_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return out


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    """The benchmark's last stdout line."""
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def _source_revision() -> dict:
    """Commit when run inside a git checkout, plus a digest of the engine's
    sources, which identifies the code when there is no git metadata."""
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            rev = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            rev = None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "woe_monotonic_binning_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            h.update(f.read())
    return {"commit": rev, "engine_sha256": h.hexdigest()}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int):
    """Local Spark session on ``cores`` cores that keeps its scratch files
    inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the py4j handshake file and any child's temporary files stay inside
    # the checkout too
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from woe_monotonic_binning_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's RSS no longer depends on
            # when G1 chose to grow the heap, so peak_rss_mb tracks the
            # memory outside it (Python driver and workers, off-heap)
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs iterations of one workload and counts the ones that fail."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failed = 0

    def once(self, tracer=None):
        """One checked iteration; returns its output or None on failure."""
        self.attempted += 1
        try:
            out = self.workload.iterate(tracer)
            problems = self.workload.check(out)
        except Exception:  # a failed iteration is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return out


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _another(walls: list[float], t_start: float, seconds: float) -> bool:
    """Whether to start another iteration: always up to MIN_ITERATIONS,
    then only if one more (at the median so far) still ends in time."""
    if len(walls) < MIN_ITERATIONS:
        return True
    return time.perf_counter() - t_start + _median(walls) <= seconds


def measure(runner: Runner, seconds: float) -> dict:
    """Untraced closed loop: median wall and process-tree CPU per
    iteration."""
    from procstat import tree_cpu_s

    walls, cpus = [], []
    t_start = time.perf_counter()
    while _another(walls, t_start, seconds):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        runner.once()
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
    return {"job_s": _median(walls), "cpu_s": _median(cpus), "walls": walls, "cpus": cpus}


def measure_traced(runner: Runner, spark, seconds: float, cores: int) -> tuple[dict, list]:
    """Alternates untraced and traced iterations; per-layer metrics are the
    medians over the traced ones."""
    from spans import ROOT as ROOT_SPAN, SparkCounters, Tracer

    counters = SparkCounters(spark)
    tracer = Tracer(spark.sparkContext)
    plain, per_run, pairs = [], [], []
    t_start = time.perf_counter()
    while _another(pairs, t_start, seconds):
        t0 = time.perf_counter()
        runner.once()
        plain.append(time.perf_counter() - t0)
        tracer.run_id = f"run{len(per_run)}"
        with tracer.span(ROOT_SPAN):
            runner.once(tracer)
        counters.settle()
        values: dict[str, float] = {}
        layer_self = 0.0
        for s, own in tracer.run(tracer.run_id):
            if s.name == ROOT_SPAN:
                values["trace.traced_s"] = s.end - s.start
                continue
            layer_self += own
            c = counters.read(s.group, scans=s.name.startswith("drift."))
            c["idle_core_s"] = own * cores - c["task_s"]
            c.update(s.counters)
            s.counters = c
            for key, v in [("wall_s", s.end - s.start), ("self_s", own), *c.items()]:
                # a workload's own counters carry their full metric name
                name = key if "." in key else f"{s.name}.{key}"
                values[name] = values.get(name, 0.0) + v
        values["trace.layer_self_s"] = layer_self
        per_run.append(values)
        pairs.append(time.perf_counter() - t0)
    out = {name: _median([r[name] for r in per_run if name in r]) for name in layer_metrics()}
    out["trace.job_s"] = _median(plain)
    out["trace.overhead_s"] = _median([r["trace.traced_s"] for r in per_run]) - out["trace.job_s"]
    return out, tracer.dump()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine must come from this checkout, never from an installed copy
    engine_dir = os.path.join(ROOT, "woe_monotonic_binning_spark")
    try:
        import woe_monotonic_binning_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(engine.__file__)) != engine_dir:
        print(f"perfbench: the engine was imported from {engine.__file__}, not {engine_dir}", file=sys.stderr)
        return 2
    from procstat import PeakRss
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    cores = _cores()
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)

    t_gen = time.perf_counter()
    manifest = workload.make_inputs(data, args.seed)
    gen_s = time.perf_counter() - t_gen

    runner = Runner(workload)
    spark = None
    # RSS is sampled from session start: the JVM heap grows during the
    # warm-up and rarely shrinks, so the peak over set-up and timing is
    # steadier than the peak over one or two timed iterations alone
    with PeakRss() as rss:
        try:
            t_session = time.perf_counter()
            spark = start_session(work, cores)
            session_s = time.perf_counter() - t_session
            t_setup = time.perf_counter()
            workload.setup(spark, data, manifest)
            t_warm = time.perf_counter()
            warm = runner.once()
            setup_s = time.perf_counter() - T_START - gen_s
            record = {
                "setup_parts": {
                    "before_session_s": t_session - T_START - gen_s,
                    "session_s": session_s,
                    "workload_setup_s": t_warm - t_setup,
                    "warm_up_s": time.perf_counter() - t_warm,
                }
            }
            if args.trace:
                values, record["spans"] = measure_traced(runner, spark, args.seconds, cores)
                values["session.start_s"] = session_s
                values.update(workload.finish())
                units = layer_metrics()
            else:
                m = measure(runner, args.seconds)
                values = {"setup_s": setup_s, "job_s": m["job_s"], "cpu_s": m["cpu_s"]}
                record.update(walls=m["walls"], cpus=m["cpus"])
                units = END_TO_END
        finally:
            if spark is not None:
                stop_session(spark)
    values["peak_rss_mb"] = rss.peak / 2**20
    record.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        cores=cores,
        inputs=manifest,
        gen_s=gen_s,
        metrics=values,
        **_source_revision(),
    )
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    fail_ratio = runner.failed / runner.attempted
    summary = " ".join(f"{k}={values[k]:.4g} {u}" for k, u in SUMMARY.items() if k in values)
    print(
        f"perfbench {args.workload} seed={args.seed} cores={cores} "
        f"iterations={runner.attempted} {summary} fail_ratio={fail_ratio:.4g} ratio"
        if not args.trace
        else f"perfbench {args.workload} seed={args.seed} cores={cores} traced "
        f"job_s={values['trace.job_s']:.4g} s layer_self_s={values['trace.layer_self_s']:.4g} s"
    )
    correct = warm is not None and runner.failed == 0
    print(result_line(correct, runner.attempted, runner.failed, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Streaming drift monitoring: per-micro-batch PSI of a scoring stream
against pinned training-time bin fractions — the serve-time face of
``drift.psi_report`` (same bins, same exhaustive bucket partition, same
clamped components), emitting one metrics row per (variable, batch) to a
parquet sink a dashboard or alerter tails.

Pattern: the EXPECTED side is batch-precomputed once on historical data
(:func:`~woe_monotonic_binning_spark.drift.baseline_fractions` — the same
train-time-statistics-at-serve-time move as the median fill values in
``streaming/score.py``); each micro-batch then pays one map-side histogram
pass over its own rows plus arithmetic on ``variables x bins`` rows.  No
state store: every batch is scored against the frozen baseline
independently, so a drifting batch alerts immediately and a recovered one
reads stable again — PSI over a sliding data window is a batch-side query
over the metrics sink, not stream state.

At scale the monitor adds one narrow aggregation per batch (the same
partial-agg melt as the batch histogram: shuffle rows bounded by
``tasks x variables x buckets``) — negligible next to the scoring
projection it rides along with.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import drift as _drift
from .._rows import local_table
from ..drift import MISSING, OUT_OF_RANGE, bin_histogram  # noqa: F401 (re-export)
from ..transform import _bins_to_pandas, compile_bin_exprs
from .dedup import _start_sink


def streaming_psi_monitor(
    stream: DataFrame,
    bins,
    baseline: pd.DataFrame,
    metrics_path: str,
    checkpoint_dir: str | None = None,
    min_frac: float = 1e-4,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Start a foreachBatch monitor appending per-batch PSI metrics rows
    ``(batch_id, variable, n_rows, psi, status)`` to ``metrics_path``.

    ``baseline`` is the tiny ``(variable, bin, expected_frac)`` frame from
    :func:`~woe_monotonic_binning_spark.drift.baseline_fractions` — it
    already carries the exhaustive bucket set (fitted bins + out-of-range
    + missing), so per-batch fractions join against a complete scaffold
    and a batch abandoning a bin still contributes that bin's vanished
    mass.  The bin gates must match the ones the baseline was built with;
    variables are intersected with the baseline's as a guard.  Empty
    micro-batches are skipped (no population, no signal — alerting on
    "no data" belongs to the source's own lag metrics, not PSI).

    Delivery: effectively-once (round-8 verdict #6) — the monitor starts
    through the dedup survivor sinks' ``_start_sink`` (streaming/dedup.py),
    so each micro-batch owns the ``_commit_id=<query-token>-<batch-id>``
    partition of ``metrics_path`` and a replay rewrites it in place
    instead of appending duplicate ``(batch_id, variable)`` metric rows.
    Readers see one extra ``_commit_id`` partition column — drop it, or
    keep it as write lineage."""
    specs = compile_bin_exprs(
        _bins_to_pandas(bins), iv_threshold, bin_threshold, remove_100_corr
    )
    base_vars = set(baseline["variable"].unique())
    spec_vars = {s[0] for s in specs}
    # A partially-stale baseline must not SILENTLY narrow the monitored
    # set (round-7 advice): warn on any asymmetry, not just an empty
    # intersection.  A deliberately narrowed baseline
    # (baseline_fractions(..., variables=[...])) still works — the warning
    # names exactly what is and is not monitored.
    if spec_vars - base_vars or base_vars - spec_vars:
        import warnings

        warnings.warn(
            "baseline variable set differs from the bins' gate-surviving "
            f"set — NOT monitored (absent from baseline): "
            f"{sorted(spec_vars - base_vars)}; baseline-only (stale?): "
            f"{sorted(base_vars - spec_vars)}.  Monitoring the "
            "intersection; re-pin baseline_fractions with the same bins "
            "and gates if this narrowing is not deliberate",
            stacklevel=2,
        )
    specs = [s for s in specs if s[0] in base_vars]
    if not specs:
        raise ValueError(
            "no overlap between the bins' surviving variables and the "
            "baseline's; rebuild baseline_fractions with the same gates"
        )
    # bin-STRUCTURE guard, not just variable overlap: if the bins were
    # refit since the baseline was pinned, batch counts in bins absent
    # from the baseline are silently dropped by the left join below and
    # every actual fraction renormalises over the wrong subset — fail
    # loudly instead (round-7 review)
    base_bins = baseline.groupby("variable")["bin"].apply(set).to_dict()
    for v, cuts, _ in specs:
        want = {MISSING, OUT_OF_RANGE, *range(len(cuts) - 1)}
        have = base_bins.get(v, set())
        if want != have:
            raise ValueError(
                f"baseline bin set for {v!r} is {sorted(have)} but the bins "
                f"table implies {sorted(want)} — the bins were refit since "
                "baseline_fractions was built; re-pin the baseline"
            )
    base_records = [
        (str(r.variable), int(r.bin), float(r.expected_frac))
        for r in baseline.itertuples(index=False)
    ]

    def _process(batch_df: DataFrame, batch_id: int, commit) -> None:
        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        hist = bin_histogram(batch_df, specs)
        base = local_table(
            spark, base_records, "variable string, bin int, expected_frac double"
        )
        # batch total as a window over the baseline-joined frame — a
        # groupBy+join of `hist` would evaluate the batch-scan lineage
        # twice per micro-batch (same single-scan fix as drift._psi_finish)
        w = Window.partitionBy("variable")
        joined = (
            base.join(hist, ["variable", "bin"], "left")
            .withColumn("__cnt", F.coalesce(F.col("count"), F.lit(0)))
            .withColumn("__tot", F.sum("__cnt").over(w))
            .select(
                "variable",
                "expected_frac",
                F.col("__tot").alias("n_rows"),
                (F.col("__cnt") / F.greatest(F.col("__tot"), F.lit(1))).alias(
                    "actual_frac"
                ),
            )
        )
        component = _drift._psi_component(
            F.col("expected_frac"), F.col("actual_frac"), min_frac
        )
        metrics = (
            joined.filter(F.col("n_rows") > 0)  # empty batch: no signal
            .groupBy("variable")
            .agg(
                F.max("n_rows").alias("n_rows"),
                F.sum(component).alias("psi"),
            )
            .select(
                F.lit(batch_id).alias("batch_id"),
                "variable",
                "n_rows",
                "psi",
                _drift._status(F.col("psi")).alias("status"),
            )
        )
        commit(metrics)

    return _start_sink(
        stream, metrics_path, checkpoint_dir, _process, trigger_available_now
    )

"""The benchmark workloads.

Each workload makes its inputs from a seed, sets up once, then runs one
iteration at a time (closed loop, one client).  ``iterate(None)`` is the
untraced iteration timed for the end-to-end metrics.  ``iterate(tracer)``
calls the same layers one public function at a time, each inside its own
span, and returns the same kind of output, so ``check`` covers both.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np

import gen

FIT_ARGS = dict(n_threshold=100, max_distinct="auto")
CURATION_ARGS = dict(
    scrub=True,
    quality_threshold=0.5,
    near_dup="minhash",
    near_dup_threshold=0.7,
    weights=gen.CURATION_WEIGHTS,
    test_fraction=0.25,
    split_seed=11,
)
SPLIT_TOLERANCE = 0.05


def _fit_bins(df):
    from woe_monotonic_binning_spark import fit_bins

    return fit_bins(df, "target", gen.CREDIT_FEATURES, **FIT_ARGS).collect()


def _bins_problems(rows, n_rows: int) -> tuple[list[str], str]:
    """Monotone WOE and complete bin counts per variable, plus a digest of
    the whole bins table."""
    problems = []
    by_var: dict[str, list] = {}
    for r in rows:
        by_var.setdefault(r["variable"], []).append(r)
    if sorted(by_var) != sorted(gen.CREDIT_FEATURES):
        problems.append(f"bins cover {sorted(by_var)}")
    for var, bins in by_var.items():
        total = sum(b["size"] for b in bins)
        if total != n_rows:
            problems.append(f"{var}: bin sizes sum to {total}, not {n_rows}")
        real = sorted(
            (b for b in bins if _finite(b["interval_start_include"])),
            key=lambda b: b["interval_start_include"],
        )
        diffs = np.diff([b["woe"] for b in real])
        if not (np.all(diffs >= 0) or np.all(diffs <= 0)):
            problems.append(f"{var}: WOE not monotone")
    digest = hashlib.sha256(repr(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()
    return problems, digest


def _finite(x) -> bool:
    """False for the NaN bin's NULL edge."""
    return x is not None and not math.isnan(x)


class Credit:
    """One refit-and-score cycle per iteration: fit bins on the training
    table, then encode and PSI-monitor a drifted next-period table with
    those bins."""

    name = "credit"
    why = (
        "refit and score a seeded 50k x 8 credit table: fit_bins (melt, histogram, "
        "quantize guard, applyInPandas), apply_bins (median pre-pass, CASE encode) and "
        "PSI drift"
    )

    def make_inputs(self, data_dir: str, seed: int) -> dict:
        return {
            "credit": gen.make_credit(os.path.join(data_dir, "credit"), seed),
            "score": gen.make_credit_score(os.path.join(data_dir, "score"), seed),
        }

    def setup(self, spark, data_dir: str, manifest: dict) -> None:
        self.spark = spark
        self.train = spark.read.parquet(os.path.join(data_dir, "credit"))
        self.score = spark.read.parquet(os.path.join(data_dir, "score"))
        self.train_rows = manifest["credit"]["rows"]
        self.score_rows = manifest["score"]["rows"]
        self.digest = None

    def iterate(self, tracer=None):
        if tracer is None:
            rows = _fit_bins(self.train)
            bins, variables = self._bins(rows)
            encoded = self._encode(bins, variables)
            return rows, variables, encoded, *self._psi(bins)
        from woe_monotonic_binning_spark import _algo
        from woe_monotonic_binning_spark.fit import (
            AUTO_MAX_DISTINCT,
            melt_features,
            quantize_summary,
            summarize,
        )
        from woe_monotonic_binning_spark.transform import median_prepass

        with tracer.span("fit"):
            rows = _fit_bins(self.train)
        with tracer.span("fit.summary") as s:
            long = melt_features(self.train, "target", gen.CREDIT_FEATURES)
            summary = quantize_summary(summarize(long), AUTO_MAX_DISTINCT).toPandas()
            s.counters["fit.summary_rows"] = len(summary)
            s.counters["fit.py_bytes"] = int(summary.memory_usage(deep=True).sum())
        with tracer.span("algo"):
            params = _algo.FitParams(n_threshold=FIT_ARGS["n_threshold"])
            for var, part in summary.groupby("variable"):
                _algo.fit_variable(_algo.summary_from_pandas(part, variable=var), params)
        bins, variables = self._bins(rows)
        with tracer.span("transform.prepass"):
            medians = median_prepass(self.score, list(variables), "exact").first().asDict()
        with tracer.span("transform.encode"):
            encoded = self._encode(bins, variables, medians)
        with tracer.span("drift.psi"):
            psi = self._psi(bins)
        return rows, variables, encoded, *psi

    def _bins(self, rows):
        """The fitted rows as a local relation, plus the fitted WOE values
        of each variable that survives the encoder's gates."""
        from woe_monotonic_binning_spark import BINS_SCHEMA_DDL
        from woe_monotonic_binning_spark.transform import _bins_to_pandas, compile_bin_exprs

        bins = self.spark.createDataFrame(rows, BINS_SCHEMA_DDL)
        specs = compile_bin_exprs(_bins_to_pandas(bins))
        return bins, {v: set(w) for v, _, w in specs}

    def _encode(self, bins, variables, medians=None):
        from pyspark.sql import Observation, functions as F
        from woe_monotonic_binning_spark import apply_bins

        obs = Observation("perfbench_encode")
        enc = apply_bins(self.score, bins, impute="exact", medians=medians)
        enc.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *[F.collect_set(f"{v}_bin").alias(v) for v in variables],
        ).write.format("noop").mode("overwrite").save()
        return obs.get

    def _psi(self, bins):
        from pyspark.sql import Observation, functions as F
        from woe_monotonic_binning_spark import psi_report, psi_summary

        obs = Observation("perfbench_psi")
        detail = psi_report(self.train, self.score, bins).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("psi_component").isNull().cast("int")).alias("null_components"),
        )
        summary = psi_summary(detail).collect()
        return obs.get, summary

    def check(self, out) -> list[str]:
        rows, variables, encoded, psi, summary = out
        problems, digest = _bins_problems(rows, self.train_rows)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            problems.append("bins differ from the warm-up's")
        if encoded["rows"] != self.score_rows:
            problems.append(f"encoded {encoded['rows']} rows of {self.score_rows}")
        for v, woes in variables.items():
            stray = set(encoded[v]) - woes
            if stray:
                problems.append(f"{v}: WOE values {sorted(stray)[:3]} not in the fitted set")
        if psi["rows"] == 0 or psi["null_components"]:
            problems.append(f"PSI detail: {psi}")
        if sorted(r["variable"] for r in summary) != sorted(variables):
            problems.append("PSI summary does not cover the encoded variables")
        return problems

    def finish(self) -> dict:
        return {}


class CorpusCuration:
    name = "corpus_curation"
    why = (
        "curate_corpus on 1,000 seeded docs with exact dups, near-dup chains and PII: "
        "text, dedup and sampling operators in many small Spark jobs; no WOE layer"
    )

    def make_inputs(self, data_dir: str, seed: int) -> dict:
        return {"corpus": gen.make_corpus(os.path.join(data_dir, "corpus"), seed)}

    def setup(self, spark, data_dir: str, manifest: dict) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(data_dir, "corpus"))
        self.n_docs = manifest["corpus"]["docs"]
        self.groups = manifest["corpus"]["exact_dup_groups"]
        self.last_uniq = None
        self.verified_pairs = 0

    def _labels(self, labeled):
        from pyspark.sql import functions as F

        rows = (
            labeled.groupBy("split")
            .agg(F.count("*").alias("n"), F.collect_list("doc_id").alias("ids"))
            .collect()
        )
        return {r["split"]: list(r["ids"]) for r in rows}

    def iterate(self, tracer=None):
        if tracer is None:
            from woe_monotonic_binning_spark import curate_corpus

            try:
                return self._labels(curate_corpus(self.docs, **CURATION_ARGS))
            finally:
                # the caller owns the survivor caches curate_corpus leaves
                self.spark.catalog.clearCache()
        return self._traced(tracer)

    def _traced(self, tracer):
        """The stages of ``curate_corpus`` (scrub-first, MinHash near-dup,
        quality keep-best, source mix, split label) called one public
        function at a time, each output materialized inside its span."""
        from pyspark.sql import functions as F
        from woe_monotonic_binning_spark.operators import dedup
        from woe_monotonic_binning_spark.operators.sampling import mix_sources, split_column
        from woe_monotonic_binning_spark.operators.text import (
            PII_PATTERNS,
            quality_score,
            scrub_pii,
        )

        docs = self.docs
        parallelism = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < parallelism:
            docs = docs.repartition(parallelism)
        args = CURATION_ARGS
        with tracer.span("text"):
            scrubbed = scrub_pii(docs).drop(*[f"n_{k}" for k in PII_PATTERNS])
            scored = (
                quality_score(scrubbed)
                .filter(F.col("quality") >= args["quality_threshold"])
                .localCheckpoint(eager=True)
            )
        with tracer.span("dedup.digest"):
            reps = dedup.exact_dedup_by_digest(scored, "text", "doc_id").select("doc_id")
            uniq = scored.join(reps, "doc_id", "left_semi").localCheckpoint(eager=True)
        with tracer.span("dedup.minhash"):
            pairs = dedup.minhash_dedup_pairs(
                uniq, "text", "doc_id", threshold=args["near_dup_threshold"]
            )
        # dedup_keep_best reaches connected_components through the module,
        # so wrapping the module attribute nests a dedup.cc span in it
        components = dedup.connected_components

        def traced_components(*a, **k):
            with tracer.span("dedup.cc"):
                return components(*a, **k)

        dedup.connected_components = traced_components
        try:
            with tracer.span("dedup.keep_best"):
                best = dedup.dedup_keep_best(
                    uniq, pairs, "doc_id", "quality", descending=True
                ).localCheckpoint(eager=True)
        finally:
            dedup.connected_components = components
        with tracer.span("sampling"):
            mixed = mix_sources(best, args["weights"], "source", "doc_id", 0)
            labels = self._labels(
                split_column(mixed, "doc_id", args["test_fraction"], args["split_seed"])
            )
        self.last_uniq = uniq
        self.verified_pairs = pairs.count()
        return labels

    def check(self, labels) -> list[str]:
        problems = []
        ids = [i for split in labels.values() for i in split]
        survivors = set(ids)
        if len(survivors) != len(ids):
            problems.append("a document survived twice")
        if not survivors or min(survivors) < 0 or max(survivors) >= self.n_docs:
            problems.append("survivors are not a subset of the input")
        bad = [g for g in self.groups if len(survivors.intersection(g)) != 1]
        if bad:
            problems.append(f"{len(bad)} exact-dup groups do not keep exactly one member")
        test = len(labels.get("test", [])) / max(len(ids), 1)
        if abs(test - CURATION_ARGS["test_fraction"]) > SPLIT_TOLERANCE:
            problems.append(f"test fraction {test:.3f}")
        return problems

    def finish(self) -> dict:
        """Pair yield of the MinHash stage: LSH candidates (recomputed once
        from the last traced survivor set, outside every span) against the
        pairs that passed exact-Jaccard verification."""
        if self.last_uniq is None:
            return {}
        from woe_monotonic_binning_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            shingled,
        )

        sigs = minhash_signatures(shingled(self.last_uniq, "text", "doc_id"), "doc_id")
        candidates = lsh_candidate_pairs(sigs, "doc_id").count()
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": self.verified_pairs,
            "dedup.pair_yield": self.verified_pairs / candidates if candidates else 0.0,
        }


WORKLOADS = {cls.name: cls for cls in (Credit, CorpusCuration)}

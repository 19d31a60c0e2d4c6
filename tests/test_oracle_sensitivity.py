"""Mutation tests for the certification surface itself (round-8 verdict #2).

`tests/test_oracle_local.py` proves every (query, oracle) pair AGREES at
sf0.01.  Agreement alone is weak evidence: a same-author oracle updated "in
lockstep" with an engine fix could encode the same wrong semantics and keep
agreeing.  This suite closes the gap from the other side — for a
representative certified query and a classic bug class, inject exactly that
bug into the ENGINE side (at the engine-function seam via monkeypatch when
the catalog query calls into the engine; by re-declaring the single mutated
expression when the catalog query IS the engine line) and assert the
driver-style compare FAILS.  "Oracle agrees" becomes "oracle can disagree".

Bug classes covered: boundary off-by-one (filter, jaccard threshold, lead
offset), sign/ratio flip (WOE), wrong constant (target definition), edge-row
semantics (-inf first interval, missing NULL-group row), precision
(rounding digits, median interpolation shift), count off-by-one
(n_dups includes self), scale/convention (PSI x2, quality calibration),
and schema drift (renamed column).

Every mutant runs against the same sf0.01 DuckDB connection the clean
parity test uses, so the only difference between "passes there" and "must
fail here" is the injected bug.
"""

from __future__ import annotations

import pytest

# Certification battery (round 18): deselected from the default run by
# pytest.ini addopts; run with `-m certification` (see pytest.ini).
pytestmark = pytest.mark.certification
from pyspark.sql import Window, functions as F

import queries_catalog as qc
from tests.oracle_harness import compare, duckdb_connection

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF)
    yield c
    c.close()


def assert_caught(spark, con, name, mutant_df):
    problems = compare(mutant_df, con, qc.ORACLE_SQL[name], name)
    assert problems, (
        f"oracle for {name} FAILED TO CATCH the injected engine bug — "
        "the certification for this query is vacuous"
    )


# -- inline-expression mutants (the catalog expression IS the engine line) --


def test_boundary_widened_filter_is_caught(spark, con):
    """== 25.0 -> <= 25.0 (classic comparison-operator typo)."""
    mutant = qc._li(spark, SF).filter(F.col("l_quantity") <= 25.0).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    assert_caught(spark, con, "q_filter_eq", mutant)


def test_woe_sign_flip_is_caught(spark, con):
    """log(dist_bad/dist_good) -> log(dist_good/dist_bad): the WOE sign
    convention flipped — values are plausible, magnitudes identical."""
    df = qc._li_t(spark, SF)
    grouped = df.groupBy(F.col("l_quantity").alias("value")).agg(
        F.count("*").cast("double").alias("size"),
        F.sum("target").cast("double").alias("bads"),
    )
    w = Window.partitionBy()
    dist = grouped.select(
        "value",
        "size",
        (F.col("bads") / F.sum("bads").over(w)).alias("dist_bad"),
        (
            (F.col("size") - F.col("bads"))
            / F.sum(F.col("size") - F.col("bads")).over(w)
        ).alias("dist_good"),
    )
    woe = dist.withColumn("woe", F.log(F.col("dist_good") / F.col("dist_bad")))
    mutant = woe.select(
        "value",
        "size",
        F.round("woe", 9).alias("woe"),
        F.round((F.col("dist_bad") - F.col("dist_good")) * F.col("woe"), 9).alias(
            "iv_components"
        ),
    )
    assert_caught(spark, con, "q_woe_iv", mutant)


def test_first_interval_not_minus_inf_is_caught(spark, con):
    """First bin starts at its observed value instead of -inf — the
    classic open-left-boundary bug that silently drops unseen-low scores
    at apply time."""
    counts = qc._li(spark, SF).groupBy(F.col("l_quantity").alias("value")).agg(
        F.count("*").alias("size")
    )
    w = Window.orderBy("value")
    mutant = counts.select(
        F.col("value").alias("interval_start_include"),
        F.coalesce(F.lead("value").over(w), F.lit(float("inf"))).alias(
            "interval_end_exclude"
        ),
        "size",
    )
    assert_caught(spark, con, "q_intervals", mutant)


def test_insufficient_rounding_precision_is_caught(spark, con):
    """Stats rounded at 6 digits instead of the contract's 9 — a
    precision regression the normaliser (which rounds at 9) must see."""
    df = qc._li_t(spark, SF)
    mutant = df.groupBy(F.col("l_quantity").alias("value")).agg(
        F.count("*").alias("size"),
        F.round(F.avg("target"), 6).alias("mean"),
        F.round(F.coalesce(F.stddev_samp("target"), F.lit(0.0)), 6).alias("std"),
    )
    assert_caught(spark, con, "q_groupby_summary", mutant)


def test_missing_null_group_row_is_caught(spark, con):
    """The NULL-keyed missing-value-group row dropped from the suite —
    the reference's op-10 semantics silently lost."""
    full = qc.SPARK_QUERIES["q_filter_suite"](spark, SF)
    mutant = full.filter(F.col("l_quantity").isNotNull())
    assert_caught(spark, con, "q_filter_suite", mutant)


def test_lead_offset_off_by_one_is_caught(spark, con):
    """lead(..., 2) instead of lead(..., 1): neighbour stats shifted one
    bin — the exact class of bug the merge loop would propagate."""
    df = qc._li_t(spark, SF)
    w = Window.orderBy("value")
    grouped = df.groupBy(F.col("l_quantity").alias("value")).agg(
        F.count("*").alias("size"),
        F.sum("target").cast("double").alias("bads"),
    )
    mutant = grouped.select(
        "value",
        "size",
        "bads",
        F.lead("value", 2).over(w).alias("next_value"),
        F.lead("size", 2).over(w).alias("next_size"),
        F.row_number()
        .over(Window.orderBy(F.col("bads").desc(), "value"))
        .alias("bad_rank"),
    )
    assert_caught(spark, con, "q_argmax_lead_suite", mutant)


def test_wrong_target_constant_is_caught(spark, con):
    """target = (l_returnflag == 'A') instead of 'R' — wrong-constant bug
    in the global totals."""
    df = qc._li(spark, SF).withColumn(
        "target", (F.col("l_returnflag") == "A").cast("double")
    )
    mutant = df.agg(
        F.sum("target").cast("double").alias("total_bads"),
        (F.count("*").cast("double") - F.sum("target")).alias("total_goods"),
        F.count("*").alias("n"),
    )
    assert_caught(spark, con, "q_global_sums", mutant)


def test_median_interpolation_shift_is_caught(spark, con):
    """Median nudged by +1e-6 — the magnitude of a lower-vs-linear
    interpolation convention bug; it must survive the 6-digit rounding of
    the summed output (it does: the shift sums over every filled row)."""
    df = qc._li(spark, SF).withColumn("d", F.expr("nullif(l_discount, 0.0)"))
    med = df.select(F.expr("percentile(d, 0.5D)").alias("m")).first()["m"] + 1e-6
    mutant = df.select(F.coalesce("d", F.lit(med)).alias("filled")).agg(
        F.round(F.sum("filled").cast("double"), 6).alias("total_filled"),
        F.count("*").alias("n"),
    )
    assert_caught(spark, con, "q_median_impute", mutant)


def test_renamed_column_is_caught(spark, con):
    """Schema drift: an aggregate alias renamed on the engine side only."""
    mutant = qc._li(spark, SF).select(
        F.col("l_extendedprice").alias("val"),
        (F.col("l_returnflag") == "R").cast("double").alias("target"),
    )
    assert_caught(spark, con, "q_project", mutant)


# -- engine-seam mutants (monkeypatch the function the catalog calls) --


def test_dedup_count_includes_self_is_caught(spark, con, monkeypatch):
    """exact_dedup reporting n_dups + 1 (duplicate count including the
    survivor itself) — injected at the operators.dedup seam, exactly
    where the real implementation could get it wrong."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.exact_dedup

    def mutated(*args, **kwargs):
        return orig(*args, **kwargs).withColumn("n_dups", F.col("n_dups") + 1)

    monkeypatch.setattr(dd, "exact_dedup", mutated)
    assert_caught(spark, con, "q_dedup_exact", qc.SPARK_QUERIES["q_dedup_exact"](spark, SF))


def test_jaccard_threshold_off_by_eps_is_caught(spark, con, monkeypatch):
    """ngram_jaccard_pairs cutting at threshold + 0.05 — a boundary bug
    that silently under-reports near-duplicates."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.ngram_jaccard_pairs

    def mutated(df, text_col, id_col, block_cols, threshold, *a, **k):
        return orig(df, text_col, id_col, block_cols, threshold + 0.05, *a, **k)

    monkeypatch.setattr(dd, "ngram_jaccard_pairs", mutated)
    assert_caught(
        spark, con, "q_dedup_ngram", qc.SPARK_QUERIES["q_dedup_ngram"](spark, SF)
    )


def test_psi_scale_convention_bug_is_caught(spark, con, monkeypatch):
    """psi_report components doubled (a natural-log-vs-log2 style
    convention slip) — injected at the drift seam under the certified
    merged suite."""
    import woe_monotonic_binning_spark.drift as drift

    orig = drift.psi_report

    def mutated(*args, **kwargs):
        out = orig(*args, **kwargs)
        return out.withColumn("psi_component", F.col("psi_component") * 2)

    monkeypatch.setattr(drift, "psi_report", mutated)
    assert_caught(
        spark, con, "q_drift_suite", qc.SPARK_QUERIES["q_drift_suite"](spark, SF)
    )


def test_streaming_psi_stale_baseline_bug_is_caught(spark, con, monkeypatch):
    """baseline_fractions returning 1%-inflated expected fractions (a
    stale/mis-normalised pinned baseline — the train-time-statistics-at-
    serve-time failure mode) — injected at the seam feeding ONLY the
    certified merged suite's psi_stream section (round 9), so this pins
    that the streaming rows participate in the hash, not just ride along."""
    import woe_monotonic_binning_spark.drift as drift

    orig = drift.baseline_fractions

    def mutated(*args, **kwargs):
        base = orig(*args, **kwargs)
        base = base.copy()
        base["expected_frac"] = base["expected_frac"] * 1.01
        return base

    monkeypatch.setattr(drift, "baseline_fractions", mutated)
    assert_caught(
        spark, con, "q_drift_suite", qc.SPARK_QUERIES["q_drift_suite"](spark, SF)
    )


def test_gopher_band_constant_typo_is_caught(spark, con, monkeypatch):
    """GOPHER_THRESHOLDS stat_words lower bound 50 -> 40 (a transcription
    typo of the published Rae et al. band) — injected under the certified
    gate columns added to q_gopher_signals in round 9."""
    import woe_monotonic_binning_spark.operators.text as text

    mutated = dict(text.GOPHER_THRESHOLDS)
    mutated["stat_words"] = (40.0, 100_000.0)
    monkeypatch.setattr(text, "GOPHER_THRESHOLDS", mutated)
    assert_caught(
        spark, con, "q_gopher_signals", qc.SPARK_QUERIES["q_gopher_signals"](spark, SF)
    )


def test_quality_calibration_shift_is_caught(spark, con, monkeypatch):
    """quality_score shifted by +0.001 — a weight-tweak class bug at the
    text-operator seam."""
    import woe_monotonic_binning_spark.operators.text as text

    orig = text.quality_score

    def mutated(*args, **kwargs):
        out = orig(*args, **kwargs)
        return out.withColumn("quality", F.round(F.col("quality") + 0.001, 6))

    monkeypatch.setattr(text, "quality_score", mutated)
    assert_caught(
        spark, con, "q_quality_score", qc.SPARK_QUERIES["q_quality_score"](spark, SF)
    )


# -- round-9 suite-widening mutants (the sections added to the certified
# slots must be able to disagree too, not just ride a green suite) --


def test_incremental_reference_skipped_is_caught(spark, con, monkeypatch):
    """dedup_against_reference ignoring the reference digests (empty
    anti-join side) — recrawled docs would survive the incremental
    section of the q_dedup_exact suite."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.dedup_against_reference

    def mutated(new_df, reference_digests, *a, **k):
        return orig(new_df, reference_digests.limit(0), *a, **k)

    monkeypatch.setattr(dd, "dedup_against_reference", mutated)
    assert_caught(
        spark, con, "q_dedup_exact", qc.SPARK_QUERIES["q_dedup_exact"](spark, SF)
    )


def test_store_stream_batch_lineage_shift_is_caught(spark, con, monkeypatch):
    """_write_survivors_idempotent stamping batch N's survivors with
    commit id N+1 — a replay would then overwrite the WRONG partition.
    Only the store_stream section of the q_dedup_exact suite carries the
    batch index (in n_dups), so this proves that column is real signal,
    not decoration."""
    import woe_monotonic_binning_spark.streaming.dedup as sdd

    orig = sdd._write_survivors_idempotent

    def mutated(fresh, out_path, token, batch_id):
        return orig(fresh, out_path, token, int(batch_id) + 1)

    monkeypatch.setattr(sdd, "_write_survivors_idempotent", mutated)
    assert_caught(
        spark, con, "q_dedup_exact", qc.SPARK_QUERIES["q_dedup_exact"](spark, SF)
    )


def test_store_stream_store_ignored_is_caught(spark, con, monkeypatch):
    """The persistent digest store consulted but ignored (empty anti-join
    side) in the STREAMING path only — every batch-2 re-crawl copy
    survives.  The streaming _process calls dedup_against_reference with
    four positional args while the batch incremental section passes two,
    so the mutant keys on that to leave the incremental section green and
    prove the store_stream section itself catches cross-batch loss."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.dedup_against_reference

    def mutated(new_df, reference_digests, *a, **k):
        if len(a) == 2:  # the streaming _process call shape
            reference_digests = reference_digests.limit(0)
        return orig(new_df, reference_digests, *a, **k)

    monkeypatch.setattr(dd, "dedup_against_reference", mutated)
    assert_caught(
        spark, con, "q_dedup_exact", qc.SPARK_QUERIES["q_dedup_exact"](spark, SF)
    )


def test_semantic_decontam_threshold_drift_is_caught(spark, con, monkeypatch):
    """decontaminate_semantic silently tightening its threshold by 15% —
    borderline paraphrase leakage would survive into the training mix.
    Caught by the semantic section of the q_decontam suite."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.decontaminate_semantic

    def mutated(corpus, benchmark, vec_col="embedding", id_col="doc_id", threshold=0.95):
        return orig(corpus, benchmark, vec_col, id_col, threshold * 1.15)

    monkeypatch.setattr(dd, "decontaminate_semantic", mutated)
    assert_caught(
        spark, con, "q_decontam", qc.SPARK_QUERIES["q_decontam"](spark, SF)
    )


def test_semantic_report_self_match_excluded_is_caught(spark, con, monkeypatch):
    """contamination_report_semantic quietly excluding the benchmark's own
    self-match from the count (off-by-one on every subset-benchmark row) —
    caught by the semantic_report section of the q_decontam suite."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.contamination_report_semantic

    def mutated(corpus, benchmark, vec_col="embedding", id_col="doc_id", threshold=0.95):
        out = orig(corpus, benchmark, vec_col, id_col, threshold)
        return out.withColumn(
            "n_corpus_docs", F.greatest(F.col("n_corpus_docs") - 1, F.lit(0))
        )

    monkeypatch.setattr(dd, "contamination_report_semantic", mutated)
    assert_caught(
        spark, con, "q_decontam", qc.SPARK_QUERIES["q_decontam"](spark, SF)
    )


def test_session_gap_drift_is_caught(spark, con, monkeypatch):
    """session_agg quietly sessionizing at a 29-minute gap instead of 30 —
    real sessions split differently and the session arm of the
    q_events_user_suite slot must hash-mismatch.  (The exact-gap BOUNDARY
    convention is separately pinned by the test_oracle_boundary plant —
    on undoctored driver data a pure edge-flip is invisible, which is
    exactly why that plant exists.)"""
    import woe_monotonic_binning_spark.operators.windows as ow

    orig = ow.session_agg

    def mutated(events, gap="30 minutes"):
        return orig(events, "29 minutes")

    monkeypatch.setattr(ow, "session_agg", mutated)
    assert_caught(
        spark,
        con,
        "q_events_user_suite",
        qc.SPARK_QUERIES["q_events_user_suite"](spark, SF),
    )


def test_chunk_min_df_off_by_one_is_caught(spark, con, monkeypatch):
    """remove_repeated_chunks cutting at min_df + 1 — planted exact-dup
    boilerplate stops emptying out in the chunks section of the
    q_dedup_lines suite."""
    import woe_monotonic_binning_spark.operators.text as text

    orig = text.remove_repeated_chunks

    def mutated(df, text_col="text", id_col="doc_id", chunk_words=10, min_df=2, **k):
        return orig(df, text_col, id_col, chunk_words, min_df + 1, **k)

    monkeypatch.setattr(text, "remove_repeated_chunks", mutated)
    assert_caught(
        spark, con, "q_dedup_lines", qc.SPARK_QUERIES["q_dedup_lines"](spark, SF)
    )


def test_report_gram_size_off_by_one_is_caught(spark, con, monkeypatch):
    """contamination_report shingling 9-grams instead of 8 — every leak
    statistic in the report section of the q_decontam suite shifts."""
    import woe_monotonic_binning_spark.operators.dedup as dd

    orig = dd.contamination_report

    def mutated(corpus, benchmark, text_col="text", id_col="doc_id", n=8, **k):
        return orig(corpus, benchmark, text_col, id_col, n + 1, **k)

    monkeypatch.setattr(dd, "contamination_report", mutated)
    assert_caught(
        spark, con, "q_decontam", qc.SPARK_QUERIES["q_decontam"](spark, SF)
    )


def test_stream_window_width_bug_is_caught(spark, con, monkeypatch):
    """streaming_tumbling_agg windowing at 2 hours instead of 1 — the
    stream section of the q_events_window_suite diverges from the GROUP BY
    oracle (certifying that the streaming arm is compared on content, not
    just riding the green batch arms)."""
    import woe_monotonic_binning_spark.streaming.events as sev

    orig = sev.streaming_tumbling_agg

    def mutated(stream, width="1 hour", watermark="10 minutes"):
        return orig(stream, "2 hours", watermark)

    monkeypatch.setattr(sev, "streaming_tumbling_agg", mutated)
    assert_caught(
        spark,
        con,
        "q_events_window_suite",
        qc.SPARK_QUERIES["q_events_window_suite"](spark, SF),
    )


def test_stream_score_woe_shift_is_caught(spark, con, monkeypatch):
    """score_stream scoring with every WOE shifted +0.01 — the stream
    section of the q_apply_encode suite diverges from the CASE oracle
    while the batch section stays green (the streamed scores are compared
    on content)."""
    import woe_monotonic_binning_spark.streaming.score as ssc

    orig = ssc.score_stream

    def mutated(stream, bins, **kwargs):
        b = bins.copy()
        b["woe"] = b["woe"] + 0.01
        return orig(stream, b, **kwargs)

    monkeypatch.setattr(ssc, "score_stream", mutated)
    assert_caught(
        spark, con, "q_apply_encode", qc.SPARK_QUERIES["q_apply_encode"](spark, SF)
    )


def test_asof_direction_ignored_is_caught(spark, con, monkeypatch):
    """asof_join silently serving the backward match when direction=
    'forward' was requested — the classic ignored-parameter bug; the
    forward section of the q_asof_join suite must diverge."""
    import woe_monotonic_binning_spark.operators.joins as oj

    orig = oj.asof_join

    def mutated(left, right, on, left_ts, right_ts, right_cols=None,
                suffix="_asof", direction="backward"):
        return orig(left, right, on, left_ts, right_ts, right_cols, suffix,
                    "backward")

    monkeypatch.setattr(oj, "asof_join", mutated)
    assert_caught(
        spark, con, "q_asof_join", qc.SPARK_QUERIES["q_asof_join"](spark, SF)
    )


def test_asof_nearest_closeness_ignored_is_caught(spark, con, monkeypatch):
    """asof_join serving the FORWARD match whenever direction='nearest'
    (the closer-side comparison dropped — round 11's newly certified
    section): every event whose genuinely nearest order-day lies behind
    it diverges, so the 'nearest' section must hash-mismatch."""
    import woe_monotonic_binning_spark.operators.joins as oj

    orig = oj.asof_join

    def mutated(left, right, on, left_ts, right_ts, right_cols=None,
                suffix="_asof", direction="backward"):
        return orig(left, right, on, left_ts, right_ts, right_cols, suffix,
                    "forward" if direction == "nearest" else direction)

    monkeypatch.setattr(oj, "asof_join", mutated)
    assert_caught(
        spark, con, "q_asof_join", qc.SPARK_QUERIES["q_asof_join"](spark, SF)
    )


def test_kafka_value_schema_drift_is_caught(spark, con, monkeypatch):
    """parse_json_value decoding `value` as float instead of double — the
    wire-schema precision-loss bug; the kafka section of the
    q_events_window_suite must diverge from the GROUP BY oracle."""
    import woe_monotonic_binning_spark.streaming.kafka as kfk

    orig = kfk.parse_json_value

    def mutated(stream, schema, *a, **k):
        return orig(stream, schema.replace("value double", "value float"), *a, **k)

    monkeypatch.setattr(kfk, "parse_json_value", mutated)
    assert_caught(
        spark,
        con,
        "q_events_window_suite",
        qc.SPARK_QUERIES["q_events_window_suite"](spark, SF),
    )


def test_decode_channel_swap_is_caught(spark, con, monkeypatch):
    """decode_image reading the raster as BGR instead of RGB (the classic
    channel-order bug every real codec integration hits once) — the
    'pixels' section of q_multimodal_stats must hash-mismatch on the
    swapped sum_r/sum_b."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.decode_image

    def mutated(media):
        out = orig(media)
        return out.select(
            "media_id", "fmt", "width", "height", "n_pixels",
            F.col("sum_b").alias("sum_r"), "sum_g",
            F.col("sum_r").alias("sum_b"), "orientation",
        )

    monkeypatch.setattr(mm, "decode_image", mutated)
    assert_caught(
        spark,
        con,
        "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_wav_rate_misparse_is_caught(spark, con, monkeypatch):
    """decode_audio reading byte_rate where sample_rate sits (adjacent
    little-endian fields in the fmt chunk — the classic WAV header
    off-by-four): sample_rate doubles for the mono PCM16 fixture and the
    'audio' section of q_multimodal_stats must hash-mismatch."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.decode_audio

    def mutated(media):
        out = orig(media)
        return out.withColumn(
            "sample_rate", (F.col("sample_rate") * 2).cast("int")
        )

    monkeypatch.setattr(mm, "decode_audio", mutated)
    assert_caught(
        spark,
        con,
        "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_resize_dimension_swap_is_caught(spark, con, monkeypatch):
    """resize_image transposing the target (6x3 delivered as 3x6 — the
    row/column-major confusion every resampler integration hits): the
    constant-color fixture keeps identical SUMS either way (18 pixels),
    so this pins that the 'resize' section certifies the emitted
    width/height too, not just the pixel mass."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.resize_image

    def mutated(media, out_w, out_h):
        return orig(media, out_h, out_w)

    monkeypatch.setattr(mm, "resize_image", mutated)
    assert_caught(
        spark,
        con,
        "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_png_decode_absent_is_caught(spark, con, monkeypatch):
    """A broken/absent PNG decoder (every PNG payload falling through to
    the NULL-fmt reject row — the exact pre-round-11 behavior): the 'png'
    section of q_multimodal_stats must hash-mismatch, proving the section
    actually certifies the new decode path rather than tolerating
    NULLs."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.decode_image

    def mutated(media):
        out = orig(media)
        is_png = F.col("fmt") == "png"
        nulled = [
            F.when(is_png, F.lit(None).cast(t)).otherwise(F.col(c)).alias(c)
            for c, t in (
                ("width", "int"), ("height", "int"), ("n_pixels", "int"),
                ("sum_r", "bigint"), ("sum_g", "bigint"), ("sum_b", "bigint"),
            )
        ]
        return out.select(
            "media_id",
            F.when(is_png, F.lit(None).cast("string"))
            .otherwise(F.col("fmt"))
            .alias("fmt"),
            *nulled,
            "orientation",
        )

    monkeypatch.setattr(mm, "decode_image", mutated)
    assert_caught(
        spark,
        con,
        "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_pack_materialize_concat_order_is_caught(spark, con, monkeypatch):
    """materialize_packs concatenating in DESCENDING id order — the exact
    class of bug the round-12 'materialize' section's text_md5 exists to
    catch (the member set, counts and oversize max would all still
    match)."""
    import woe_monotonic_binning_spark.operators.packing as pk

    orig = pk.materialize_packs

    def mutated(docs, packed, text_col="text", id_col="doc_id", sep="\n\n"):
        slim = packed.select(id_col, "pack_id", "oversize")
        joined = docs.select(id_col, text_col).join(slim, id_col)
        return joined.groupBy("pack_id").agg(
            F.array_join(
                F.reverse(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col(id_col).alias("i"),
                                    F.col(text_col).alias("t"),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    )
                ),
                sep,
            ).alias(text_col),
            F.count("*").alias("n_docs"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
            F.max(F.col("oversize").cast("int")).cast("boolean").alias("oversize"),
        )

    monkeypatch.setattr(pk, "materialize_packs", mutated)
    assert_caught(
        spark, con, "q_token_budget", qc.SPARK_QUERIES["q_token_budget"](spark, SF)
    )


def test_png_palette_index_offset_is_caught(spark, con, monkeypatch):
    """Palette index-offset (round 12): every index reads the NEXT palette
    entry — injected by rotating the module palette the JVM fixture is
    built from (a driver-side plan-construction seam; the decode kernel
    itself runs in the Arrow worker where a driver monkeypatch cannot
    reach).  The 'palette' oracle section's id%3 arithmetic must
    disagree."""
    import tests.media_fixtures as mf

    rotated = mf._PALETTE[1:] + mf._PALETTE[:1]
    monkeypatch.setattr(mf, "_PALETTE", rotated)
    assert_caught(
        spark,
        con,
        "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_pack_stats_oversize_in_utilization_is_caught(spark, con, monkeypatch):
    """pack_stats counting OVERSIZE packs into utilization (numerator and
    denominator) — the natural off-by-a-filter bug in the telemetry the
    'pack_stats' section certifies; the 6dp utilization must disagree."""
    import woe_monotonic_binning_spark.operators.packing as pk

    def mutated(packed, budget):
        per_pack = pk._per_pack(packed)
        return per_pack.agg(
            F.count("*").alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum(F.when(F.col("oversize") == 1, 1).otherwise(0)).alias("n_oversize"),
            F.round(
                F.sum(F.col("pack_tokens"))
                / F.greatest(F.count("*") * F.lit(budget), F.lit(1)),
                6,
            ).alias("utilization"),
        )

    monkeypatch.setattr(pk, "pack_stats", mutated)
    assert_caught(
        spark, con, "q_token_budget", qc.SPARK_QUERIES["q_token_budget"](spark, SF)
    )


def test_pack_shard_stride_bug_is_caught(spark, con, monkeypatch):
    """pack_shard_stats decoding the shard with the WRONG stride (2^32
    instead of the mint-side 2^40) — shards collapse/explode and the
    per-shard rows disagree."""
    import woe_monotonic_binning_spark.operators.packing as pk

    orig = pk.pack_shard_stats

    def mutated(packed, budget):
        import pyspark.sql.functions as SF

        wrong = packed.withColumn(
            "pack_id",
            (SF.col("pack_id") % SF.lit(1 << 40))
            + (SF.col("pack_id") / SF.lit(1 << 40)).cast("long") * SF.lit(1 << 32),
        )
        return orig(wrong, budget)

    monkeypatch.setattr(pk, "pack_shard_stats", mutated)
    assert_caught(
        spark, con, "q_token_budget", qc.SPARK_QUERIES["q_token_budget"](spark, SF)
    )


def test_chunk_overlap_ignored_is_caught(spark, con, monkeypatch):
    """chunk_documents silently dropping the overlap (stride = chunk_size
    instead of chunk_size - overlap) — window starts shift, chunk_md5 and
    the window count both disagree in the round-12 window sections."""
    import woe_monotonic_binning_spark.operators.text as tx

    orig = tx.chunk_documents

    def mutated(df, text_col="text", id_col="doc_id", chunk_size=512,
                overlap=64, unit="words"):
        return orig(df, text_col, id_col, chunk_size, 0, unit)

    monkeypatch.setattr(tx, "chunk_documents", mutated)
    assert_caught(
        spark, con, "q_dedup_lines", qc.SPARK_QUERIES["q_dedup_lines"](spark, SF)
    )


def test_html_link_gate_dropped_is_caught(spark, con, monkeypatch):
    """The 'html' section certifies the link-density boilerplate gate: an
    extractor that keeps every non-empty line (max_link_density=1.0)
    retains the all-links nav div, so md5/new_len/n_removed disagree for
    every document."""
    import woe_monotonic_binning_spark.operators.text as tx

    orig = tx.extract_html_text

    def mutated(df, html_col="html", text_col="text", max_link_density=0.5):
        return orig(df, html_col, text_col, 1.0)

    monkeypatch.setattr(tx, "extract_html_text", mutated)
    assert_caught(
        spark, con, "q_dedup_lines", qc.SPARK_QUERIES["q_dedup_lines"](spark, SF)
    )


def test_html_naive_tag_regex_is_caught(spark, con, monkeypatch):
    """The 'html' section certifies quote-aware tag scanning: a naive
    [^>]* attribute scan truncates the fixture's <p title="k>v"> block
    tag at the quoted '>', leaving 'v">' debris in the extracted text —
    md5 must disagree.  (The fixture's quoted '>' sits in a BLOCK tag,
    so the block regex is the one to naive-ify.)"""
    import woe_monotonic_binning_spark.operators.text as tx

    naive = f"(?i)</?(?:{tx._HTML_BLOCK_TAGS})(?:[ /][^>]*)?>"
    monkeypatch.setattr(tx, "_HTML_BLOCK_RE", naive)
    assert_caught(
        spark, con, "q_dedup_lines", qc.SPARK_QUERIES["q_dedup_lines"](spark, SF)
    )


def test_jpeg_entropy_byte_corruption_is_caught(spark, con, monkeypatch):
    """The 'jpeg' section must certify the DECODE, not just the fixture
    plumbing: overwrite the per-id entropy byte (the 4th-from-last byte —
    DC magnitude of block 1) with a constant, so every payload decodes to
    dc1=21 regardless of doc_id.  The oracle's closed-form sums vary with
    doc_id, so the worker-side Huffman decode of the corrupted bytes must
    produce mismatching sums for 15 of every 16 ids."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_jpeg_media

    def mutated(docs, id_col="doc_id", width=16):
        out = orig(docs, id_col, width)
        return out.withColumn(
            "content",
            F.overlay(
                F.col("content"), F.unhex(F.lit("2a")), F.length("content") - 3
            ),
        )

    monkeypatch.setattr(mf, "synthetic_jpeg_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_mp4_timescale_ignored_is_caught(spark, con, monkeypatch):
    """The 'probe_mp4' section certifies the mvhd parse does the
    timescale division: halving the fixture's timescale (500 instead of
    1000) without touching the duration field must double every probed
    duration_ms — the oracle's 5000 + id%97 rejects all rows."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_mp4_media
    # mvhd timescale bytes sit at: ftyp(16) + moov hdr(8) + mvhd hdr(8)
    # + version/flags(4) + creation/mod(8) -> offset 44, 1-based 45
    def mutated(docs, id_col="doc_id"):
        out = orig(docs, id_col)
        return out.withColumn(
            "content",
            F.overlay(F.col("content"), F.unhex(F.lit("000001f4")), 45),
        )

    monkeypatch.setattr(mf, "synthetic_mp4_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_flac_sample_byte_corruption_is_caught(spark, con, monkeypatch):
    """The 'flac' section certifies the DECODE: overwriting the 2-byte
    constant-subframe value (4th/3rd from last, before the CRC-16) with
    a fixed 1200 — and its matching CRC so the checksum gate passes —
    makes every payload decode to the same sum, which the oracle's
    id-varying 192*(1000+37*(id%16)) rejects for 15 of every 16 ids."""
    import woe_monotonic_binning_spark.operators.multimodal as mm
    import tests.media_fixtures as mf

    orig = mf.synthetic_flac_media
    # keep the frame CRC-valid: recompute it for the constant 1200 so the
    # mismatch comes from the decoded samples, not a checksum reject
    fh = bytes([0xFF, 0xF8, 0x14, 0x08, 0x00])
    fh += bytes([mm._crc8(fh)])
    frame = fh + b"\x00" + (1200).to_bytes(2, "big")
    tail = (1200).to_bytes(2, "big") + mm._crc16(frame).to_bytes(2, "big")

    def mutated(docs, id_col="doc_id"):
        out = orig(docs, id_col)
        return out.withColumn(
            "content",
            F.overlay(
                F.col("content"), F.unhex(F.lit(tail.hex())),
                F.length("content") - 3,
            ),
        )

    monkeypatch.setattr(mf, "synthetic_flac_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_flac_lpc_coefficient_corruption_is_caught(spark, con, monkeypatch):
    """The 'flac_lpc' section certifies the LPC recurrence: flipping the
    first quantized coefficient from 2 to 3 (with a per-id recomputed
    CRC-16 so the checksum gate passes) turns the flat extrapolation
    into geometric growth — every decoded sum disagrees with the
    oracle's 16*v."""
    import woe_monotonic_binning_spark.operators.multimodal as mm
    import tests.media_fixtures as mf

    orig = mf.synthetic_flac_lpc_media
    fh = bytes([0xFF, 0xF8, 0x64, 0x08, 0x00, 0x0F])
    fh += bytes([mm._crc8(fh)])
    tail_m = bytes([0x30, 0x1F, 0x80, 0x0F, 0xFF, 0xC0])  # coef0 2 -> 3
    crcs = {
        k: mm._crc16(
            fh + b"\x42" + (2000 + 41 * k).to_bytes(2, "big") * 2 + tail_m
        )
        for k in range(16)
    }

    def mutated(docs, id_col="doc_id"):
        out = orig(docs, id_col)
        k = F.pmod(F.col("media_id"), F.lit(16)).cast("int")
        crc_hex = F.lit(f"{crcs[15]:04x}")
        for kk in range(14, -1, -1):
            crc_hex = F.when(k == kk, F.lit(f"{crcs[kk]:04x}")).otherwise(crc_hex)
        return out.withColumn(
            "content",
            F.concat(
                F.substring("content", 1, 55),
                F.unhex(F.lit("1f")),
                F.substring("content", 57, 4),
                F.unhex(crc_hex),
            ),
        )

    monkeypatch.setattr(mf, "synthetic_flac_lpc_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_jpeg_exif_orientation_corruption_is_caught(spark, con, monkeypatch):
    """The 'jpeg_exif' section certifies the APP1 TIFF parse: overwriting
    the orientation value byte (offset 31 in the fixture layout) with a
    constant 5 makes every payload report orientation 5 — the oracle's
    1 + id%8 must mismatch for 7 of every 8 ids."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_jpeg_exif_media

    def mutated(docs, id_col="doc_id"):
        out = orig(docs, id_col)
        return out.withColumn(
            "content", F.overlay(F.col("content"), F.unhex(F.lit("05")), 31)
        )

    monkeypatch.setattr(mf, "synthetic_jpeg_exif_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_jpeg_422_entropy_byte_corruption_is_caught(spark, con, monkeypatch):
    """The 'jpeg_422' section certifies the subsampled color decode:
    overwrite the per-id DC byte (5th from last) with a constant so every
    payload decodes to the same Y — the oracle's id-varying sums must
    mismatch for 15 of every 16 ids."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_jpeg_422_media

    def mutated(docs, id_col="doc_id"):
        out = orig(docs, id_col)
        return out.withColumn(
            "content",
            F.overlay(
                F.col("content"), F.unhex(F.lit("2a")), F.length("content") - 4
            ),
        )

    monkeypatch.setattr(mf, "synthetic_jpeg_422_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_jpeg_crop_width_ignored_is_caught(spark, con, monkeypatch):
    """The 'jpeg_crop' section certifies decode-then-crop: a fixture that
    ignores the declared width (full 16-wide frame, the output of a
    decoder that pads instead of cropping) must fail the oracle's
    12-wide crop arithmetic on width, n_pixels AND sums."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_jpeg_media

    def mutated(docs, id_col="doc_id", width=16):
        return orig(docs, id_col, 16)

    monkeypatch.setattr(mf, "synthetic_jpeg_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_bpe_merge_order_corruption_is_caught(spark, con, monkeypatch):
    """The 'bpe' section certifies the LEARNED MERGE ORDER end to end: a
    trainer that returns the right merge SET in the wrong ORDER (here
    reversed — rank inversion, the classic priority bug) changes encode
    priorities on the fixture's competing merges, so token boundaries
    move on fast/query/window and the md5 of the token stream
    disagrees."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    orig = tk.train_bpe

    def mutated(df, text_col="text", num_merges=200, **kw):
        tok = orig(df, text_col, num_merges, **kw)
        assert len(tok.merges) >= 2
        return tk.BPETokenizer(list(reversed(tok.merges)))

    monkeypatch.setattr(tk, "train_bpe", mutated)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_bpe_training_corpus_corruption_is_caught(spark, con, monkeypatch):
    """The section also pins WHAT was trained on, not just the order: a
    trainer fed a corrupted corpus (competition line dropped — e.g. a
    sampling bug that silently skips the last partition) learns a
    different merge list, so counts and the token-stream md5 disagree.
    (The apply-side kernel runs in executor worker processes, so its
    bugs are unreachable by driver monkeypatch — apply correctness is
    instead pinned against the pure encoder in tests/test_tokenizer.py,
    and any apply/oracle divergence fails the clean parity run.)"""
    monkeypatch.setattr(qc, "_BPE_FIXTURE_CORPUS", qc._BPE_FIXTURE_CORPUS[:-1])
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_mjpeg_frame_entropy_corruption_is_caught(spark, con, monkeypatch):
    """The 'frames' section must certify the per-frame DECODE, not just
    the movi walk: overwrite the LAST frame's entropy byte (4th-from-last
    byte of the payload — DC magnitude of that frame's block 1) with a
    constant, so frame 2 of every payload decodes to dc1=21 regardless of
    (doc_id + 2) % 16.  The oracle's closed-form per-frame sums vary with
    the id, so 15 of every 16 rows of that frame mismatch."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_avi_mjpeg_media

    def mutated(docs, id_col="doc_id", n_frames=3):
        out = orig(docs, id_col, n_frames)
        return out.withColumn(
            "content",
            F.overlay(
                F.col("content"), F.unhex(F.lit("2a")), F.length("content") - 3
            ),
        )

    monkeypatch.setattr(mf, "synthetic_avi_mjpeg_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_mjpeg_frame_order_corruption_is_caught(spark, con, monkeypatch):
    """The 'frames' section also pins frame ORDER and the avih timestamp
    math: a walker that emitted frames in reverse (an index-table sorted
    descending, say) pairs frame 0's timestamp with frame 2's pixels —
    simulated by remapping id so the per-frame dc sequence reverses."""
    import tests.media_fixtures as mf

    orig = mf.synthetic_avi_mjpeg_media

    def mutated(docs, id_col="doc_id", n_frames=3):
        out = orig(docs, id_col, n_frames)
        # swap frame 0 and frame 2's entropy bytes: payload layout is
        # [... chunk0 ... b0 6f ffd9 (pad) chunk1 ... chunk2 ... b2 6f ffd9 (pad)]
        # byte b_f sits 4 from each chunk end; chunks are equal-length.
        jpeg_len = len(mf._jpeg_fixture_prefix_hex(16)) // 2 + 4
        step = 8 + jpeg_len + (jpeg_len & 1)
        last = F.length("content") - 3 - (jpeg_len & 1)
        first = last - 2 * step
        b0 = F.substring(F.col("content"), first, 1)
        b2 = F.substring(F.col("content"), last, 1)
        return out.withColumn(
            "content",
            F.overlay(F.overlay(F.col("content"), b2, first), b0, last),
        )

    monkeypatch.setattr(mf, "synthetic_avi_mjpeg_media", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_url_userinfo_leak_is_caught(spark, con, monkeypatch):
    """The 'url' section certifies the userinfo skip: a host regex
    without the ``(?:[^/@?#]*@)?`` group parses 'user' as the host of
    every userinfo-bearing URL (pattern 3 of the fixture), so host md5,
    length and registered domain all disagree there."""
    import woe_monotonic_binning_spark.operators.urls as ur

    leaky = (
        "^(?:[A-Za-z][A-Za-z0-9+.-]*://)?"
        "(?:\\[([0-9A-Fa-f:.]+)\\]|([A-Za-z0-9._-]+))"
    )
    monkeypatch.setattr(ur, "URL_HOST_RE", leaky)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_url_cap_off_by_one_is_caught(spark, con, monkeypatch):
    """The 'url_cap' section certifies the cap boundary: an operator that
    keeps max_per_domain + 1 rows (the classic <= vs < rank bug) changes
    kept counts AND the kept-id md5 for every capped domain."""
    import woe_monotonic_binning_spark.operators.urls as ur

    orig = ur.cap_per_domain

    def mutated(df, max_per_domain, **kw):
        return orig(df, max_per_domain + 1, **kw)

    monkeypatch.setattr(ur, "cap_per_domain", mutated)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_url_null_domain_blocked_is_caught(spark, con, monkeypatch):
    """The 'url' section pins the NULL posture: a filter_domains that
    drops NULL-domain rows (coalesce-to-blocked instead of
    coalesce-to-kept) flags every unparseable URL as removed where the
    oracle says kept."""
    import woe_monotonic_binning_spark.operators.urls as ur

    orig = ur.filter_domains

    def mutated(df, blocklist, domain_col="url_domain", host_col="url_host"):
        out = orig(df, blocklist, domain_col, host_col)
        return out.where(F.col(domain_col).isNotNull())

    monkeypatch.setattr(ur, "filter_domains", mutated)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_text_bom_ignored_is_caught(spark, con, monkeypatch):
    """The 'text' section certifies BOM handling: a decoder with an empty
    BOM table treats UTF-8-BOM payloads as plain UTF-8 (a leading
    U+FEFF leaks into the text and had_bom flips) and mojibakes the
    UTF-16 families through the latin-1 fallback — md5, fmt and
    orientation all disagree."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_BOMS", ())
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_quality_coefficient_corruption_is_caught(spark, con, monkeypatch):
    """q_gopher_signals' quality_prob column certifies the pinned-weight
    scoring projection: flipping the sign of the heaviest coefficient
    (sig_dup_4gram_char_frac, the classic serialized-model corruption)
    moves probabilities far past the 6-dp rounding on every repetitive
    document."""
    mutated = dict(qc._QUALITY_COEFFS)
    mutated["sig_dup_4gram_char_frac"] = -mutated["sig_dup_4gram_char_frac"]
    monkeypatch.setattr(qc, "_QUALITY_COEFFS", mutated)
    assert_caught(
        spark, con, "q_gopher_signals",
        qc.SPARK_QUERIES["q_gopher_signals"](spark, SF),
    )


def test_bpe_id_space_ordering_bug_is_caught(spark, con, monkeypatch):
    """The 'bpe' section's id-sum column certifies the DETERMINISTIC id
    space: an artifact whose alphabet ids follow first-seen order
    instead of sorted order (the classic set-iteration bug) assigns
    different ids to the same tokens, so per-doc id sums disagree."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    orig = tk.train_bpe

    def mutated(df, text_col="text", num_merges=200, **kw):
        tok = orig(df, text_col, num_merges, **kw)
        bad = tk.BPETokenizer(tok.merges, alphabet=tok.alphabet)
        # rebuild the char ids in REVERSED order — same set, wrong order
        bad.token_to_id = {"<unk>": 0}
        for c in reversed(tok.alphabet):
            bad.token_to_id[c] = len(bad.token_to_id)
        for a, b in tok.merges:
            t = a + b
            if t not in bad.token_to_id:
                bad.token_to_id[t] = len(bad.token_to_id)
        return bad

    monkeypatch.setattr(tk, "train_bpe", mutated)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_sampled_frame_selection_corruption_is_caught(spark, con, monkeypatch):
    """q_frame_sample's 'decoded' section certifies WHICH stored frame a
    sampled timestamp decodes: a movi walker that returns the chunk list
    reversed (an index-table ordering bug) pairs ts=0 with frame 2's
    pixels, so the closed-form per-timestamp sums disagree."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm._avi_video_frames

    def mutated(b):
        got = orig(b)
        if got is None:
            return None
        usec, frames = got
        return usec, list(reversed(frames))

    monkeypatch.setattr(mm, "_avi_video_frames", mutated)
    assert_caught(
        spark, con, "q_frame_sample",
        qc.SPARK_QUERIES["q_frame_sample"](spark, SF),
    )


def test_psl_rule_dropped_is_caught(spark, con, monkeypatch):
    """The round-16 'url' section certifies the data-driven PSL: an
    engine whose rule table silently lost the github.io exact rule
    collapses projN.github.io sibling subdomains into ONE registered
    domain — the domain md5 in 'url' and the per-domain groups in
    'url_cap' both disagree (the oracle SQL was generated at import time
    from the FULL rule list)."""
    mutated_rules = [r for r in qc._url_psl_rules() if r != "github.io"]
    assert len(mutated_rules) == len(qc._url_psl_rules()) - 1
    monkeypatch.setattr(qc, "_url_psl_rules", lambda: mutated_rules)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_psl_exception_ignored_is_caught(spark, con, monkeypatch):
    """The 'url' section pins exception-rule semantics: an engine that
    drops !www.ck (keeping *.ck) treats www.ck itself as a public
    suffix, so subN.www.ck rows get registered domain subN.www.ck
    instead of www.ck — md5 and cap grouping both shift."""
    mutated_rules = [r for r in qc._url_psl_rules() if r != "!www.ck"]
    assert len(mutated_rules) == len(qc._url_psl_rules()) - 1
    monkeypatch.setattr(qc, "_url_psl_rules", lambda: mutated_rules)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_url_port_overflow_accepted_is_caught(spark, con, monkeypatch):
    """The round-16 'url' section pins the port-validity bound: an
    engine that skips the 1..65535 check (try_cast alone — the
    pre-round-16 behavior for int32-valid-but-invalid ports) emits 70000
    for the midport fixture shape where the twin says NULL.  Injected by
    re-deriving the port column without the bound."""
    import woe_monotonic_binning_spark.operators.urls as ur

    orig = ur.parse_url

    def mutated(df, url_col="url", extra_suffixes=(), prefix="url_",
                suffix_list=None):
        out = orig(df, url_col, extra_suffixes, prefix, suffix_list)
        from pyspark.sql import functions as F

        raw = F.regexp_extract(F.col(url_col), ur._PORT_RE, 3)
        unbounded = F.when(
            F.col(f"{prefix}host").isNotNull() & (raw != ""),
            raw.try_cast("int"),
        )
        return out.withColumn(f"{prefix}port", unbounded)

    monkeypatch.setattr(ur, "parse_url", mutated)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_charset_alias_conflation_is_caught(spark, con, monkeypatch):
    """The round-16 'text' section pins strict alias normalization: a
    decoder whose alias table maps iso-8859-1 to windows-1252 (the
    WHATWG browser conflation) decodes the hinted 0x93 fixture row to
    U+201C instead of the U+0093 control — codec name and decoded md5
    both disagree."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    conflated = dict(mm._CHARSET_ALIASES)
    for k, (codec, name) in list(conflated.items()):
        if codec == "latin-1":
            conflated[k] = ("cp1252", "windows-1252")
    monkeypatch.setattr(mm, "_CHARSET_ALIASES", conflated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_charset_cp1252_fallback_skipped_is_caught(spark, con, monkeypatch):
    """The 'text' section pins the fallback ORDER: an engine that jumps
    straight to latin-1 (the round-15 chain) mojibakes the curly-quote
    fixture row to C1 controls and mislabels the 0xE9 row's codec."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.decode_text

    def mutated(media, latin1_fallback=True, hint_col=None,
                cp1252_fallback=True):
        return orig(media, latin1_fallback, hint_col, cp1252_fallback=False)

    monkeypatch.setattr(mm, "decode_text", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_dhash_band_boundary_is_caught(spark, con, monkeypatch):
    """The round-16 'dhash' section pins the 4 x 16-bit band layout: an
    engine packing 8 x 8-bit bands instead (the classic boundary bug —
    same 64 bits, different pigeonholes) changes the band-array md5 of
    every row."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_DHASH_BAND_BITS", 8)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_dhash_band_order_corruption_is_caught(spark, con, monkeypatch):
    """The 'dhash' section pins band ORDER inside the fingerprint: an
    engine emitting the bands reversed (an indexing bug that preserves
    every bit) still disagrees on the md5."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.dhash_images

    def mutated(media, codec=None):
        return orig(media, codec).withColumn(
            "dhash_bands", F.reverse("dhash_bands")
        )

    monkeypatch.setattr(mm, "dhash_images", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_bpe_byte_special_offset_dropped_is_caught(spark, con, monkeypatch):
    """The round-16 'bpe_byte' section pins the specials-first id
    layout: an engine that forgets to reserve pad/bos/eos shifts every
    byte and merge id down by 3 — id sums disagree on every row."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    orig = tk.train_bpe

    def mutated(df, *a, **kw):
        kw["special_tokens"] = ()
        return orig(df, *a, **kw)

    monkeypatch.setattr(tk, "train_bpe", mutated)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_bpe_byte_vocab_size_ignored_is_caught(spark, con, monkeypatch):
    """The 'bpe_byte' section pins the vocab_size -> merge-budget
    derivation: an engine whose budget arithmetic loses 25 merges
    leaves 'table' unmerged — token counts and boundaries disagree."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    orig = tk.train_bpe

    def mutated(df, *a, **kw):
        if kw.get("vocab_size") is not None:
            kw["vocab_size"] = kw["vocab_size"] - 25
        return orig(df, *a, **kw)

    monkeypatch.setattr(tk, "train_bpe", mutated)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_bpe_byte_char_conflation_is_caught(spark, con, monkeypatch):
    """The 'bpe_byte' section pins byte-level encoding itself: an engine
    silently training char-level (alphabet = observed chars + unk) maps
    'é' to one char token under a different id space — id sums and the
    token-stream md5 disagree on the multi-byte arm."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    orig = tk.train_bpe

    def mutated(df, *a, **kw):
        if kw.get("byte_level"):
            kw["byte_level"] = False
            kw.pop("vocab_size", None)  # keep the same merge budget
            kw["num_merges"] = qc._BPE_FIXTURE_MERGES
        return orig(df, *a, **kw)

    monkeypatch.setattr(tk, "train_bpe", mutated)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )


def test_ahash_band_boundary_is_caught(spark, con, monkeypatch):
    """The round-16 'ahash' section pins the audio hash's 4 x 16-bit
    band layout, same bug class as the image mutant: 8 x 8-bit packing
    changes the band-array md5 of every row."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_AHASH_BAND_BITS", 8)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_ahash_window_count_corruption_is_caught(spark, con, monkeypatch):
    """The 'ahash' section pins the 65-window energy grid: an engine
    slicing 66 windows (the classic fencepost) pairs different samples
    into every energy and the md5 disagrees."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    monkeypatch.setattr(mm, "_AHASH_WINDOWS", 66)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_tar_member_byte_corruption_is_caught(spark, con, monkeypatch):
    """The round-16 'tar' section certifies byte-exact member recovery:
    a reader that loses the first byte of every member (a header-offset
    bug) hands decode_image payloads whose magic is gone — fmt and the
    closed-form pixel sums all disagree."""
    import woe_monotonic_binning_spark.sources.webdataset as wd

    orig = wd.read_tar_shards

    def mutated(spark_, path, pattern="*.tar", stream=False):
        out = orig(spark_, path, pattern, stream)
        return out.withColumn(
            "content", F.expr("substring(content, 2, 2147483647)")
        )

    monkeypatch.setattr(wd, "read_tar_shards", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_warc_body_byte_corruption_is_caught(spark, con, monkeypatch):
    """The round-16 'warc' section certifies exact body recovery: a
    record walk that leaks one extra byte into every body (the classic
    Content-Length+1 framing bug) changes body md5 and byte count."""
    import woe_monotonic_binning_spark.sources.warc as wc

    orig = wc.explode_warc_column

    def mutated(df, blob_col="content", id_col="doc_id", http_payload=True):
        out = orig(df, blob_col, id_col, http_payload)
        return out.withColumn(
            "content", F.concat(F.col("content"), F.expr("X'0D'"))
        ).withColumn("n_bytes", F.col("n_bytes") + 1)

    monkeypatch.setattr(wc, "explode_warc_column", mutated)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_warc_http_envelope_not_stripped_is_caught(spark, con, monkeypatch):
    """The 'warc' section pins the HTTP envelope split: an engine that
    hands the raw block through (http_payload ignored) leaks the status
    line + headers into content and loses the status/Content-Type
    columns."""
    import woe_monotonic_binning_spark.sources.warc as wc

    orig = wc.explode_warc_column

    def mutated(df, blob_col="content", id_col="doc_id", http_payload=True):
        return orig(df, blob_col, id_col, http_payload=False)

    monkeypatch.setattr(wc, "explode_warc_column", mutated)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


# -- round 17: temperature mixing, WARC body decoding, langid, perplexity --


def test_temperature_alpha_off_is_caught(spark, con, monkeypatch):
    """The 'temp' section derives p = n^0.5/z in SQL: an engine running
    natural proportions (alpha=1 — the classic forgot-the-knob default)
    realizes a different keep set for every non-uniform language."""
    import woe_monotonic_binning_spark.operators.sampling as sp

    orig = sp.temperature_weights

    def mutated(df, alpha=0.7, **kw):
        return orig(df, alpha=1.0, **kw)

    monkeypatch.setattr(sp, "temperature_weights", mutated)
    assert_caught(
        spark, con, "q_sampling_suite",
        qc.SPARK_QUERIES["q_sampling_suite"](spark, SF),
    )


def test_temperature_cap_misvalue_is_caught(spark, con, monkeypatch):
    """T=400 drives the smallest language's fraction over 1, so the
    least(1, .) cap is in-band: an engine capping at the wrong value
    shrinks that language's keep set and breaks the hash."""
    import woe_monotonic_binning_spark.operators.sampling as sp

    orig = sp.temperature_weights

    def mutated(df, alpha=0.7, **kw):
        return {s: min(0.9, f) for s, f in orig(df, alpha=alpha, **kw).items()}

    monkeypatch.setattr(sp, "temperature_weights", mutated)
    assert_caught(
        spark, con, "q_sampling_suite",
        qc.SPARK_QUERIES["q_sampling_suite"](spark, SF),
    )


def test_warc_chunk_framing_left_in_is_caught(spark, con, monkeypatch):
    """The round-17 'warc' variants ship chunked/gzip/deflate wire
    bodies: an engine that skips HTTP body decoding (the pre-round-17
    behavior) surfaces wire bytes as content and breaks the md5 on
    three of four variant classes."""
    import woe_monotonic_binning_spark.sources.warc as wc

    monkeypatch.setattr(wc, "_decode_http_body", lambda body, te, ce: body)
    assert_caught(
        spark, con, "q_dedup_lines",
        qc.SPARK_QUERIES["q_dedup_lines"](spark, SF),
    )


def test_langid_weight_corruption_is_caught(spark, con, monkeypatch):
    """One micro-nat on one pinned bucket weight shifts that language's
    bigint score for every document whose grams hit the bucket."""
    bumped = {k: list(v) for k, v in qc._LANGID_WEIGHTS.items()}
    bumped["en"][11] += 1
    monkeypatch.setattr(qc, "_LANGID_WEIGHTS", bumped)
    assert_caught(
        spark, con, "q_doc_signals_suite",
        qc.SPARK_QUERIES["q_doc_signals_suite"](spark, SF),
    )


def test_ppl_bigram_corruption_is_caught(spark, con, monkeypatch):
    """One micro-nat on one pinned bigram breaks ppl_logmass for every
    document containing that transition."""
    key = next(iter(sorted(qc._PPL_BIGRAMS)))
    bumped = dict(qc._PPL_BIGRAMS)
    bumped[key] += 1
    monkeypatch.setattr(qc, "_PPL_BIGRAMS", bumped)
    assert_caught(
        spark, con, "q_gopher_signals",
        qc.SPARK_QUERIES["q_gopher_signals"](spark, SF),
    )


def test_ppl_unk_penalty_dropped_is_caught(spark, con, monkeypatch):
    """Dropping the OOV-target penalty (the bug the fluency-ordering
    test caught in development) inflates every <unk>-bearing doc's
    log-mass."""
    monkeypatch.setattr(qc, "_PPL_UNK_PEN", 0)
    assert_caught(
        spark, con, "q_gopher_signals",
        qc.SPARK_QUERIES["q_gopher_signals"](spark, SF),
    )


def test_meta_prescan_skipped_is_caught(spark, con, monkeypatch):
    """The round-17 'text' rows 9/10 carry <meta> declarations and NO
    transport hint: an engine that never runs the prescan decodes row
    9 through the cp1252 fallback (U+201C instead of the declared
    latin-1 U+0093) and breaks the md5."""
    import woe_monotonic_binning_spark.operators.multimodal as mm

    orig = mm.decode_text

    def mutated(media, latin1_fallback=True, hint_col=None,
                cp1252_fallback=True, meta_sniff=True):
        return orig(media, latin1_fallback, hint_col, cp1252_fallback,
                    meta_sniff=False)

    monkeypatch.setattr(mm, "decode_text", mutated)
    assert_caught(
        spark, con, "q_multimodal_stats",
        qc.SPARK_QUERIES["q_multimodal_stats"](spark, SF),
    )


def test_unigram_greedy_segmentation_is_caught(spark, con, monkeypatch):
    """The 'unigram' section's likelihood-ordering mutant: an engine
    segmenting by greedy longest-match instead of Viterbi picks a
    lower-likelihood segmentation for some fixture words — both the
    token-boundary md5 and the log-mass column break."""
    import woe_monotonic_binning_spark.operators.tokenizer as tk

    def greedy(word, piece_logp, max_piece_len, unk_logp=tk._UNIGRAM_UNK_LOGP):
        out, lp, i = [], 0, 0
        while i < len(word):
            for ln in range(min(max_piece_len, len(word) - i), 0, -1):
                piece = word[i : i + ln]
                plp = piece_logp.get(piece)
                if plp is None and ln == 1:
                    plp = unk_logp
                if plp is not None:
                    out.append(piece)
                    lp += plp
                    i += ln
                    break
        return out, lp

    monkeypatch.setattr(tk, "viterbi_segment", greedy)
    assert_caught(
        spark, con, "q_token_budget",
        qc.SPARK_QUERIES["q_token_budget"](spark, SF),
    )

"""Golden parity: the Spark fit must match the reference cell-for-cell.

Strategy 2 of SURVEY.md section 5 — run the reference (pandas, erf-shimmed
norm.cdf) on the A1 fixture and compare the full 11-column bins tables to
1e-9 relative, covering the iterative ops (PAVA, z-merge, WOE-merge,
sep-stitch) and quirks Q1-Q12 end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from woe_monotonic_binning_spark import batch_woe_binning, fit_bins, woe_binning, woe_binning_sep
from woe_monotonic_binning_spark._algo import BINS_COLUMNS

FEATURES = [
    "x_mono_up",
    "x_mono_down",
    "x_noise",
    "x_const",
    "x_with_nan",
    "x_sep",
    "x_few",
    "x_tiny_bins",
]


def assert_bins_equal(got: pd.DataFrame, exp: pd.DataFrame, ctx: str, tol: float = 1e-9):
    got = got.reset_index(drop=True)
    exp = exp.reset_index(drop=True)
    assert len(got) == len(exp), f"{ctx}: {len(got)} rows vs {len(exp)}"
    for col in BINS_COLUMNS:
        g, e = got[col].to_numpy(), exp[col].to_numpy()
        if col == "variable":
            assert (g == e).all(), f"{ctx}.{col}"
            continue
        g = g.astype(float)
        e = e.astype(float)
        same = (np.isnan(g) & np.isnan(e)) | (g == e) | (
            np.abs(g - e) <= tol * np.maximum(1.0, np.abs(e))
        )
        assert same.all(), f"{ctx}.{col}: {g} != {e}"


@pytest.mark.parametrize("n_threshold", [100, 500])
def test_batch_fit_matches_reference(spark, reference, binning_pdf, binning_df, n_threshold):
    bins = batch_woe_binning(
        binning_df.drop("row_id"), "target", n_threshold=n_threshold
    ).toPandas()
    for col in FEATURES:
        exp = reference.woe_binning("target", binning_pdf[[col, "target"]], n_threshold=n_threshold)
        assert_bins_equal(
            bins[bins.variable == col], exp, f"{col}@n_threshold={n_threshold}"
        )


def test_merge_threshold_matches_reference(spark, reference, binning_pdf, binning_df):
    bins = fit_bins(
        binning_df, "target", FEATURES, n_threshold=100, merge_threshold=0.5
    ).toPandas()
    for col in FEATURES:
        exp = reference.woe_binning(
            "target", binning_pdf[[col, "target"]], n_threshold=100, merge_threshold=0.5
        )
        assert_bins_equal(bins[bins.variable == col], exp, f"{col}@merge_threshold")


def test_sep_value_matches_reference(spark, reference, binning_pdf, binning_df):
    got = woe_binning_sep(
        binning_df, "target", "x_sep", sep_value=-999.0, n_threshold=100
    ).toPandas()
    exp = reference.woe_binning_sep(
        "target", "x_sep", binning_pdf[["x_sep", "target"]], sep_value=-999.0, n_threshold=100
    )
    assert_bins_equal(got, exp, "x_sep@sep_value")


def test_default_n_threshold_is_ceil_n_over_20(spark, reference, binning_pdf, binning_df):
    import math

    bins = batch_woe_binning(binning_df.drop("row_id"), "target").toPandas()
    thr = math.ceil(len(binning_pdf) / 20)
    exp = reference.woe_binning("target", binning_pdf[["x_mono_up", "target"]], n_threshold=thr)
    assert_bins_equal(bins[bins.variable == "x_mono_up"], exp, "default threshold")


def test_degenerate_guard(spark, binning_df):
    got = woe_binning(binning_df, "target", "target", n_threshold=100).toPandas()
    assert len(got) == 1
    assert got.loc[0, "variable"] == "target"
    assert (got.drop(columns="variable").iloc[0] == 0).all()

    # no feature column left to melt: the target alone yields exactly the
    # degenerate rows, and nothing at all yields an empty bins table (the
    # reference's batch returns {})
    only_target = binning_df.select("target")
    pd.testing.assert_frame_equal(
        fit_bins(only_target, "target", ["target"]).toPandas(), got
    )
    for empty in (
        fit_bins(binning_df, "target", []),
        batch_woe_binning(only_target, "target"),
    ):
        assert empty.columns == list(BINS_COLUMNS)
        assert empty.count() == 0


@pytest.mark.parametrize("max_distinct", [0, -5])
def test_max_distinct_below_one_raises(spark, binning_df, max_distinct):
    """A cap below 1 would snap every value into one bucket, i.e. one bin
    per variable; every fit entry point rejects it up front."""
    with pytest.raises(ValueError, match="max_distinct"):
        fit_bins(binning_df, "target", ["x_mono_up"], max_distinct=max_distinct)
    with pytest.raises(ValueError, match="max_distinct"):
        woe_binning(
            binning_df, "target", "x_mono_up", n_threshold=100,
            max_distinct=max_distinct,
        )


@pytest.mark.parametrize("parallelism", [0, -3])
def test_quantize_parallelism_below_one_raises(spark, parallelism):
    """0 used to fail inside the JVM's range partitioner; it must not be
    read as "unset" either."""
    from woe_monotonic_binning_spark.fit import quantize_summary

    summary = spark.createDataFrame(
        [("x", 1.0, 1.0, 0.0, 0.0)],
        "variable string, value double, size double, bads double, sumsq double",
    )
    with pytest.raises(ValueError, match="parallelism"):
        quantize_summary(summary, 4, parallelism=parallelism)


def test_tpch_lineitem_fit_smoke(spark, sf0001_dir):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf0001_dir}/lineitem.parquet").withColumn(
        "target", (F.col("l_returnflag") == "R").cast("int")
    )
    bins = fit_bins(
        li,
        "target",
        ["l_extendedprice", "l_quantity", "l_discount", "l_tax"],
        n_threshold=100,
    ).toPandas()
    assert set(bins.variable) == {"l_extendedprice", "l_quantity", "l_discount", "l_tax"}
    for v, part in bins.groupby("variable"):
        means = part["mean"].to_numpy()
        assert (np.diff(means[~np.isnan(part.interval_start_include)]) < 0).all(), v


def test_merge_bins_matches_reference(spark, reference, binning_pdf, binning_df):
    """Public merge_bins parity with the reference (binning.py:14-29)."""
    from woe_monotonic_binning_spark import merge_bins, woe_binning

    got_bins = woe_binning(binning_df, "target", "x_mono_up", n_threshold=100)
    exp_bins = reference.woe_binning(
        "target", binning_pdf[["x_mono_up", "target"]], 100
    )
    assert got_bins.count() >= 3
    got = merge_bins(got_bins, [0, 1]).toPandas()
    exp = reference.merge_bins(exp_bins, [0, 1])
    assert_bins_equal(got, exp, "merge_bins[0,1]")
    # pandas frames work directly too
    got2 = merge_bins(got_bins.toPandas(), [1, 2])
    exp2 = reference.merge_bins(exp_bins, [1, 2])
    assert_bins_equal(got2, exp2, "merge_bins[1,2]")


def test_unpack_woe_forwards(spark, binning_df):
    from woe_monotonic_binning_spark import unpack_woe, woe_binning

    a = unpack_woe((binning_df, "target", "x_mono_up", 100)).toPandas()
    b = woe_binning(binning_df, "target", "x_mono_up", 100).toPandas()
    assert a.equals(b)


def test_quantize_cap_counts_only_non_null_distincts(spark):
    """Round-8 review: the distinct-count gate counted the NULL
    missing-group summary row, so a variable with exactly max_distinct
    non-null distincts plus NULLs was wrongly quantized instead of
    re-aggregating to itself bit-identically."""
    import pandas as pd

    from woe_monotonic_binning_spark.fit import quantize_summary

    rows = [("x", float(v), 10.0 - (v % 3), 1.0, 1.0) for v in range(8)]
    rows.append(("x", None, 5.0, 2.0, 2.0))  # the missing group
    summary = spark.createDataFrame(
        rows, "variable string, value double, size double, bads double, sumsq double"
    )
    out = quantize_summary(summary, max_distinct=8).toPandas()
    # 8 non-null distincts == cap: NOT over, so values survive verbatim
    got_vals = sorted(v for v in out["value"] if pd.notna(v))
    assert got_vals == [float(v) for v in range(8)]
    assert len(out) == 9


def test_fit_indexed_melt_matches_names(spark, binning_df):
    """Round 18 (guide §2.3): fit_bins melts with a short index-keyed
    variable column and maps names back inside the UDF.  The bins table
    must be byte-identical to the old name-keyed path, reconstructed here
    verbatim — including the quantize-capped and sep_value branches."""
    import pandas as pd

    from woe_monotonic_binning_spark.fit import (
        BINS_SCHEMA_DDL,
        _fit_udf,
        melt_features,
        quantize_summary,
        summarize,
    )
    from woe_monotonic_binning_spark._algo import FitParams

    cols = ["x_mono_up", "x_mono_down", "x_noisy", "x_flat"]
    cols = [c for c in cols if c in binning_df.columns]
    assert len(cols) >= 2

    def old_fit(max_distinct=None, sep_value=None):
        params = FitParams(
            n_threshold=50, n_occurences=1.0, p_threshold=0.1,
            sort_overload=None, merge_threshold=None, sep_value=sep_value,
        )
        summary = summarize(melt_features(binning_df, "target", cols))
        if max_distinct is not None:
            summary = quantize_summary(summary, max_distinct)
        return summary.groupBy("variable").applyInPandas(
            _fit_udf(params), schema=BINS_SCHEMA_DDL
        )

    from woe_monotonic_binning_spark import fit_bins

    for kwargs in ({}, {"max_distinct": 16}, {"sep_value": 0.0}):
        got = (
            fit_bins(binning_df, "target", cols, n_threshold=50, **kwargs)
            .toPandas()
            .sort_values(["variable", "interval_start_include"])
            .reset_index(drop=True)
        )
        exp = (
            old_fit(
                max_distinct=kwargs.get("max_distinct"),
                sep_value=kwargs.get("sep_value"),
            )
            .toPandas()
            .sort_values(["variable", "interval_start_include"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp, check_exact=True)


def test_quantize_arrow_cumsum_matches_window(spark):
    """Round 18: the per-partition running sums moved from a window keyed
    by (variable, __pid) to one MapInArrow pass riding the existing range
    partitioning (guide §2.4/§4.2).  This reconstructs the OLD window
    implementation verbatim and asserts bit-exact output parity — on a
    summary with NON-INTEGRAL sizes (the float addition-order argument),
    multiple variables, a NULL missing group, and a cap that leaves one
    variable under and one over."""
    import pandas as pd
    from pyspark.sql.window import Window
    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.fit import quantize_summary

    def quantize_window(summary, max_distinct, parallelism=None):
        sp = summary.sparkSession
        if parallelism is None:
            parallelism = sp.sparkContext.defaultParallelism
        nn_size = F.when(
            F.col("value").isNotNull(), F.col("size")
        ).otherwise(F.lit(0.0))
        rp = (
            summary.repartitionByRange(parallelism, "variable", "value")
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        sub = rp.groupBy("variable", "__pid").agg(
            F.sum(nn_size).alias("__ptot"), F.count("value").alias("__pk")
        )
        w_off = Window.partitionBy("variable").orderBy("__pid")
        wp = Window.partitionBy("variable")
        offsets = sub.select(
            "variable",
            "__pid",
            (F.sum("__ptot").over(w_off) - F.col("__ptot")).alias("__offset"),
            F.sum("__ptot").over(wp).alias("__total"),
            F.sum("__pk").over(wp).alias("__k"),
        )
        w_local = Window.partitionBy("variable", "__pid").orderBy("value")
        annotated = rp.join(F.broadcast(offsets), ["variable", "__pid"]).withColumn(
            "__cum_before", F.col("__offset") + F.sum(nn_size).over(w_local) - nn_size
        )
        bucket = F.when(
            (F.col("__k") > max_distinct) & F.col("value").isNotNull(),
            F.least(
                F.floor(
                    F.round(F.col("__cum_before") / F.col("__total") * max_distinct, 9)
                ),
                F.lit(max_distinct - 1),
            ),
        )
        key = F.struct(
            bucket.alias("b"), F.when(bucket.isNull(), F.col("value")).alias("v")
        )
        return (
            annotated.groupBy("variable", key.alias("__g"))
            .agg(
                F.min("value").alias("value"),
                F.sum("size").alias("size"),
                F.sum("bads").alias("bads"),
                F.sum("sumsq").alias("sumsq"),
            )
            .select("variable", "value", "size", "bads", "sumsq")
        )

    # Dyadic fractional weights (multiples of 2^-3): exercises the float
    # path while keeping every downstream SUM exact regardless of
    # accumulation order — the per-bucket re-aggregation order was never
    # pinned (it already varied with parallelism in the window version);
    # what IS pinned bit-exactly is the running sum each row carries into
    # its bucket assignment, which this parity check covers through the
    # bucket structure and the exact per-bucket totals.
    rows = [
        ("hi", float(v), 1.0 + (v % 7) * 0.375, 0.25 * (v % 4), 0.125 * (v % 5))
        for v in range(500)
    ]
    rows += [("lo", float(v), 2.5, 0.5, 0.75) for v in range(6)]
    rows.append(("hi", None, 3.5, 1.5, 2.25))  # the missing group
    schema = "variable string, value double, size double, bads double, sumsq double"
    for cap in (16, 1000):
        got = (
            quantize_summary(spark.createDataFrame(rows, schema), cap)
            .toPandas()
            .sort_values(["variable", "value"])
            .reset_index(drop=True)
        )
        exp = (
            quantize_window(spark.createDataFrame(rows, schema), cap)
            .toPandas()
            .sort_values(["variable", "value"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp, check_exact=True)


def _quantize_under_group(spark, summary, parallelism, group):
    """Run ``quantize_summary`` and then its output under two fresh job
    groups; return (sorted rows, jobs of the call, MapInArrow tasks)."""
    from woe_monotonic_binning_spark.fit import quantize_summary

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(f"{group}_call", group)
    try:
        capped = quantize_summary(summary, 16, parallelism=parallelism)
    finally:
        sc.setJobGroup(None, None)
    sc.setJobGroup(group, group)
    try:
        rows = sorted(map(tuple, capped.collect()), key=repr)
    finally:
        sc.setJobGroup(None, None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            # a map stage re-listed by a later job is skipped: no tasks ran
            if info is None or info.numCompletedTasks == 0:
                continue
            clusters = store.operationGraphForStage(sid).rootCluster().childClusters()
            if any(clusters.apply(i).name() == "MapInArrow" for i in range(clusters.size())):
                tasks.append(info.numTasks)
    assert len(tasks) == 1, tasks
    return rows, len(tracker.getJobIdsForGroup(f"{group}_call")), tasks[0]


def test_quantize_guard_task_count_and_log(spark, caplog):
    """Under AQE a small summary's range shuffle coalesces to ONE
    partition: the guard's MapInArrow runs one Python task (one per core,
    8 here, when the count was defaultParallelism).  An explicit
    parallelism keeps its count, and the rows never depend on it.  Each
    call logs its partition count and what chose it, and reading that count
    starts no Spark job: the call runs the range sample, the shuffle map
    stage and the checkpoint, three jobs, as it did before the log."""
    import logging

    caplog.set_level(logging.INFO, logger="woe_monotonic_binning_spark.fit")
    rows = [("hi", float(v), 1.0 + v % 3, float(v % 2), float(v % 2)) for v in range(600)]
    rows += [("lo", float(v), 2.0, 1.0, 1.0) for v in range(5)]
    rows.append(("hi", None, 4.0, 1.0, 1.0))
    summary = spark.createDataFrame(
        rows, "variable string, value double, size double, bads double, sumsq double"
    )
    auto, jobs, tasks = _quantize_under_group(spark, summary, None, "wmb_quantize_aqe")
    assert (jobs, tasks) == (3, 1)
    five, _, tasks = _quantize_under_group(spark, summary, 5, "wmb_quantize_five")
    assert tasks == 5
    one, _, tasks = _quantize_under_group(spark, summary, 1, "wmb_quantize_one")
    assert tasks == 1
    assert auto == five == one
    assert sum(1 for r in auto if r[0] == "hi") <= 17  # 16 buckets + NULL
    lines = [
        r.getMessage() for r in caplog.records
        if r.name == "woe_monotonic_binning_spark.fit"
    ]
    assert lines == [
        "quantize_summary: 1 range partitions (aqe)",
        "quantize_summary: 5 range partitions (parallelism=5)",
        "quantize_summary: 1 range partitions (parallelism=1)",
    ]


@pytest.mark.parametrize(
    "key, value",
    [
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "false"),
        ("spark.sql.shuffle.partitions", "2"),
    ],
)
def test_quantize_guard_falls_back_to_default_parallelism(spark, caplog, key, value):
    """Without AQE coalescing an uncounted range shuffle would run
    spark.sql.shuffle.partitions Python tasks, and below defaultParallelism
    initial partitions AQE would make them larger than an even split; the
    guard uses defaultParallelism in both cases."""
    import logging

    from woe_monotonic_binning_spark.fit import quantize_summary

    caplog.set_level(logging.INFO, logger="woe_monotonic_binning_spark.fit")
    prev = spark.conf.get(key)
    summary = spark.createDataFrame(
        [("x", float(v), 1.0, 0.0, 0.0) for v in range(40)],
        "variable string, value double, size double, bads double, sumsq double",
    )
    spark.conf.set(key, value)
    try:
        quantize_summary(summary, 4)
    finally:
        spark.conf.set(key, prev)
    n = spark.sparkContext.defaultParallelism
    assert [r.getMessage() for r in caplog.records] == [
        f"quantize_summary: {n} range partitions (defaultParallelism)"
    ]


def test_fit_batch_boundary_parity(spark, binning_df):
    """Both of the fit's Python crossings, the quantize kernel and the
    per-variable applyInPandas, give the same bins when their input is cut
    into 7-row Arrow batches; a small summary is one range partition, so
    the quantize kernel sees it as many batches."""
    cols = [c for c in FEATURES if c in binning_df.columns]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)

    def fit():
        return (
            fit_bins(binning_df, "target", cols, n_threshold=50, max_distinct=16)
            .toPandas()
            .sort_values(["variable", "interval_start_include"])
            .reset_index(drop=True)
        )

    try:
        default = fit()
        spark.conf.set(key, "7")
        small = fit()
    finally:
        spark.conf.set(key, prev)
    assert len(default) >= len(cols)
    pd.testing.assert_frame_equal(small, default, check_exact=True)


def test_merge_bins_survives_row_reorder_and_rejects_multi_variable(spark):
    """Round-8 review: positional bins_index over an arbitrarily-ordered
    Spark frame addressed the wrong rows; a reordered frame is now
    reconstructed (ascending, missing last) with a warning, and a
    multi-variable frame is rejected."""
    import warnings as _warnings

    import pandas as pd
    import pytest

    from woe_monotonic_binning_spark.fit import merge_bins

    pdf = pd.DataFrame(
        {
            "variable": ["x"] * 3,
            "interval_start_include": [0.0, 1.0, 2.0],
            "interval_end_exclude": [1.0, 2.0, 3.0],
            "size": [10.0, 20.0, 30.0],
            "mean": [0.2, 0.2, 0.2],
            "bads": [2.0, 4.0, 6.0],
            "goods": [8.0, 16.0, 24.0],
            "dist_good": [0.1, 0.2, 0.3],
            "dist_bad": [0.1, 0.2, 0.3],
            "woe": [0.5, 0.1, -0.4],
            "iv_components": [0.1, 0.1, 0.1],
        }
    )
    sdf = spark.createDataFrame(pdf)
    ordered = merge_bins(sdf, [0, 1]).toPandas()
    # shuffle the row order: same logical table, reordered partitions
    shuffled = spark.createDataFrame(pdf.iloc[[2, 0, 1]])
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        re_ordered = merge_bins(shuffled, [0, 1]).toPandas()
    assert any("fit order" in str(x.message) for x in w)
    assert sorted(map(tuple, ordered.values.tolist())) == sorted(
        map(tuple, re_ordered.values.tolist())
    )
    two = pd.concat([pdf, pdf.assign(variable="y")], ignore_index=True)
    with pytest.raises(ValueError, match="single variable"):
        merge_bins(spark.createDataFrame(two), [0, 1])

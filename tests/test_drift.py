"""PSI / stability monitoring (drift.py): value parity against a numpy
reference and a DuckDB twin, encoder-consistency, and the plan contract."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import compare, duckdb_connection
from woe_monotonic_binning_spark.drift import (
    MISSING,
    OUT_OF_RANGE,
    bin_histogram,
    psi_report,
    psi_summary,
    stability_over_periods,
)
from woe_monotonic_binning_spark.plans import exchange_count, python_eval_count

SF = "/root/testdata/sf0.001"


def bins_table(variable="x", cuts=(0.0, 1.0, 2.0, 3.0), woes=(-0.3, 0.1, 0.4), iv=1.0):
    rows = []
    n = len(cuts) - 1
    for i in range(n):
        rows.append(
            {
                "variable": variable,
                "interval_start_include": float(cuts[i]),
                "interval_end_exclude": float(cuts[i + 1]),
                "woe": float(woes[i]),
                "iv_components": iv / n,
            }
        )
    return pd.DataFrame(rows)


def np_psi(e_counts, a_counts, min_frac=1e-4):
    e = np.asarray(e_counts, dtype=float)
    a = np.asarray(a_counts, dtype=float)
    ef = np.maximum(e / e.sum(), min_frac)
    af = np.maximum(a / a.sum(), min_frac)
    return float(((af - ef) * np.log(af / ef)).sum())


@pytest.fixture(scope="module")
def bins():
    return bins_table()


def _frame(spark, values):
    # plain float column: None becomes NaN, which the missing bucket counts
    # alongside NULL (both are "no usable value" to the encoder)
    pdf = pd.DataFrame({"x": np.array([np.nan if v is None else v for v in values])})
    return spark.createDataFrame(pdf)


def test_identical_populations_have_zero_psi(spark, bins):
    df = _frame(spark, [0.1, 0.5, 1.5, 2.5, 2.9, None, 5.0, -1.0])
    out = psi_summary(psi_report(df, df, bins)).collect()
    assert len(out) == 1
    assert out[0]["psi"] == pytest.approx(0.0, abs=1e-12)
    assert out[0]["status"] == "stable"


def test_psi_matches_numpy_reference(spark, bins):
    # expected: 4/3/1 across the three bins plus 1 missing + 1 out-of-range
    e = _frame(spark, [0.1, 0.2, 0.3, 0.9, 1.1, 1.2, 1.9, 2.5, None, 9.0])
    # actual: mass shifted to the top bin
    a = _frame(spark, [0.5, 2.1, 2.2, 2.3, 2.4, 2.6, 2.7, 2.8, None, -3.0])
    detail = psi_report(e, a, bins).toPandas().sort_values("bin")
    # scaffold order: missing, out_of_range, bins 0..2
    assert list(detail["bin"]) == [MISSING, OUT_OF_RANGE, 0, 1, 2]
    assert list(detail["expected_count"]) == [1, 1, 4, 3, 1]
    assert list(detail["actual_count"]) == [1, 1, 1, 0, 7]
    assert detail["expected_frac"].sum() == pytest.approx(1.0)
    assert detail["actual_frac"].sum() == pytest.approx(1.0)
    got = psi_summary(psi_report(e, a, bins)).first()["psi"]
    assert got == pytest.approx(np_psi([1, 1, 4, 3, 1], [1, 1, 1, 0, 7]))


def test_abandoned_bin_is_clamped_not_infinite(spark, bins):
    e = _frame(spark, [0.5, 1.5, 2.5])
    a = _frame(spark, [0.5, 0.6, 0.7])  # bins 1 and 2 abandoned
    psi = psi_summary(psi_report(e, a, bins)).first()["psi"]
    assert math.isfinite(psi)
    assert psi == pytest.approx(np_psi([0, 0, 1, 1, 1], [0, 0, 3, 0, 0]))
    assert psi > 0.25  # a two-thirds mass move reads as drifted


def test_bin_index_agrees_with_encoder_both_directions(spark):
    """bin >= 0 exactly where the encoder emits a WOE, and the indexed WOE
    equals the encoded value — for ascending AND descending bins tables
    (the pd.cut closure flip, binning.py:286-293)."""
    from woe_monotonic_binning_spark.drift import _bin_index_expr
    from woe_monotonic_binning_spark.transform import _encode_column

    values = [float(v) for v in np.arange(-0.5, 3.6, 0.25)] + [0.0, 1.0, 2.0, 3.0]
    df = spark.createDataFrame(pd.DataFrame({"x": values}))
    for cuts, woes in [
        ([0.0, 1.0, 2.0, 3.0], [-0.3, 0.1, 0.4]),
        ([3.0, 2.0, 1.0, 0.0], [0.4, 0.1, -0.3]),
    ]:
        rows = df.select(
            "x",
            _bin_index_expr(F.col("x"), cuts).alias("bin"),
            _encode_column(F.col("x"), list(cuts), list(woes)).alias("woe"),
        ).collect()
        asc = cuts[0] < cuts[-1]
        ordered_woes = list(woes) if asc else list(reversed(woes))
        for r in rows:
            if r["bin"] >= 0:
                assert r["woe"] == ordered_woes[r["bin"]], (cuts, r)
            else:
                assert r["bin"] == OUT_OF_RANGE
                assert r["woe"] is None, (cuts, r)


def test_missing_bucket_counts_null_and_nan(spark, bins):
    df = _frame(spark, [None, float("nan"), 0.5])
    hist = {
        (r["bin"]): r["count"]
        for r in bin_histogram(df, [("x", [0.0, 1.0, 2.0, 3.0], [0, 0, 0])]).collect()
    }
    assert hist == {MISSING: 2, 0: 1}


def test_variable_gates_and_restriction(spark):
    bins = pd.concat(
        [
            bins_table("good"),
            bins_table("weak", iv=0.001),  # fails the IV gate
            # distinct IV total: identical totals trip the quirk-Q7
            # exact-float duplicate-IV dedup, which is not under test here
            bins_table("other", iv=0.9),
        ],
        ignore_index=True,
    )
    pdf = pd.DataFrame({"good": [0.5, 1.5], "weak": [0.5, 1.5], "other": [0.5, 1.5]})
    df = spark.createDataFrame(pdf)
    got = {r["variable"] for r in psi_summary(psi_report(df, df, bins)).collect()}
    assert got == {"good", "other"}
    only = psi_report(df, df, bins, variables=["good"])
    assert {r["variable"] for r in only.collect()} == {"good"}
    with pytest.raises(ValueError, match="no variables"):
        psi_report(df, df, bins_table("weak", iv=0.001))


def test_stability_over_periods(spark, bins):
    rows = []
    for v in [0.1, 0.5, 1.5, 2.5]:
        rows.append(("2024-01", v))
        rows.append(("2024-02", v))  # identical to baseline
    for v in [2.1, 2.2, 2.3, 2.6]:
        rows.append(("2024-03", v))  # shifted
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["month", "x"]))
    out = {
        (r["variable"], r["month"]): (r["psi"], r["status"])
        for r in stability_over_periods(df, bins, "month").collect()
    }
    assert out[("x", "2024-01")][0] == pytest.approx(0.0, abs=1e-12)  # baseline
    assert out[("x", "2024-02")][0] == pytest.approx(0.0, abs=1e-12)
    psi3 = out[("x", "2024-03")][0]
    assert psi3 == pytest.approx(np_psi([0, 0, 2, 1, 1], [0, 0, 0, 0, 4]))
    assert out[("x", "2024-03")][1] == "drifted"
    # explicit baseline selection flips which period reads as zero
    out2 = {
        r["month"]: r["psi"]
        for r in stability_over_periods(
            df, bins, "month", baseline_period="2024-03"
        ).collect()
    }
    assert out2["2024-03"] == pytest.approx(0.0, abs=1e-12)
    assert out2["2024-01"] > 0.25


PSI_ORACLE = """
WITH spec(bin, interval_lo, interval_hi) AS (
    VALUES (0, 0.0, 20000.0), (1, 20000.0, 40000.0), (2, 40000.0, 60000.0),
           (-1, NULL, NULL), (-2, NULL, NULL)
), binned AS (
    SELECT l_returnflag,
           CASE WHEN l_extendedprice IS NULL THEN -2
                WHEN l_extendedprice >= 0.0 AND l_extendedprice < 20000.0 THEN 0
                WHEN l_extendedprice >= 20000.0 AND l_extendedprice < 40000.0 THEN 1
                WHEN l_extendedprice >= 40000.0 AND l_extendedprice < 60000.0 THEN 2
                ELSE -1 END AS bin
    FROM lineitem
), e AS (SELECT bin, COUNT(*) AS c FROM binned GROUP BY bin),
   a AS (SELECT bin, COUNT(*) AS c FROM binned WHERE l_returnflag = 'R' GROUP BY bin),
   f AS (
    SELECT spec.bin, spec.interval_lo, spec.interval_hi,
           COALESCE(e.c, 0) AS expected_count,
           COALESCE(a.c, 0) AS actual_count,
           COALESCE(e.c, 0) / CAST((SELECT SUM(c) FROM e) AS DOUBLE) AS expected_frac,
           COALESCE(a.c, 0) / CAST((SELECT SUM(c) FROM a) AS DOUBLE) AS actual_frac
    FROM spec LEFT JOIN e ON spec.bin = e.bin LEFT JOIN a ON spec.bin = a.bin
)
SELECT 'l_extendedprice' AS variable, bin,
       CASE WHEN bin = -2 THEN 'missing' WHEN bin = -1 THEN 'out_of_range'
            ELSE 'bin' END AS bucket,
       CAST(interval_lo AS DOUBLE) AS interval_lo,
       CAST(interval_hi AS DOUBLE) AS interval_hi,
       expected_count, actual_count,
       expected_frac, actual_frac,
       (GREATEST(actual_frac, 1e-4) - GREATEST(expected_frac, 1e-4))
         * LN(GREATEST(actual_frac, 1e-4) / GREATEST(expected_frac, 1e-4))
         AS psi_component
FROM f
"""


def test_psi_detail_matches_duckdb_twin(spark):
    bins = bins_table(
        "l_extendedprice", cuts=(0.0, 20000.0, 40000.0, 60000.0), woes=(-0.3, 0.1, 0.4)
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    detail = psi_report(li, li.filter(F.col("l_returnflag") == "R"), bins)
    con = duckdb_connection(SF)
    assert compare(detail, con, PSI_ORACLE, "psi_detail") == []


def test_histogram_plan_single_shuffle_no_python(spark):
    spark.catalog.clearCache()
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    hist = bin_histogram(li, [("l_extendedprice", [0.0, 20000.0, 60000.0], [0, 0])])
    assert exchange_count(hist) == 1
    assert python_eval_count(hist) == 0
    # both PSI forms go through the same histogram: one aggregation
    # shuffle plus the per-variable total window
    bins = bins_table(
        "l_extendedprice", cuts=(0.0, 20000.0, 40000.0, 60000.0), woes=(-0.3, 0.1, 0.4)
    )
    pred = F.col("l_returnflag") == "R"
    for detail in (
        psi_report(li, li.filter(pred), bins),
        psi_report(li, None, bins, actual_filter=pred),
    ):
        assert exchange_count(detail) == 2
        assert python_eval_count(detail) == 0


# --- quantile-grid PSI (score deciles, no fitted bins) --------------------


def test_quantile_psi_identical_is_zero_with_open_edges(spark):
    from woe_monotonic_binning_spark.drift import psi_report_quantile

    df = spark.createDataFrame(
        pd.DataFrame({"score": np.linspace(0.0, 1.0, 200)})
    )
    detail = psi_report_quantile(df, df, ["score"], n_bins=10).toPandas()
    bins = detail[detail["bucket"] == "bin"]
    assert len(bins) == 10
    assert bins["interval_lo"].min() == -np.inf
    assert bins["interval_hi"].max() == np.inf
    # open edges: nothing can be out of range, everything lands in a bin
    oor = detail[detail["bucket"] == "out_of_range"]
    assert (oor["expected_count"] == 0).all() and (oor["actual_count"] == 0).all()
    assert detail["expected_count"].sum() == 200
    assert abs(detail["psi_component"].sum()) < 1e-12


def test_quantile_psi_detects_shift_beyond_dev_range(spark):
    from woe_monotonic_binning_spark.drift import psi_report_quantile, psi_summary

    e = spark.createDataFrame(pd.DataFrame({"score": np.linspace(0.0, 1.0, 200)}))
    a = spark.createDataFrame(pd.DataFrame({"score": np.linspace(2.0, 3.0, 200)}))
    detail = psi_report_quantile(e, a, ["score"], n_bins=10)
    row = psi_summary(detail).first()
    assert row["status"] == "drifted"
    # the entire actual mass sits beyond the dev range — in the OPEN top
    # bin, not silently out-of-range
    top = (
        detail.toPandas().sort_values("bin").query("bucket == 'bin'").iloc[-1]
    )
    assert top["actual_count"] == 200


def test_psi_is_symmetric_in_populations(spark, bins):
    from woe_monotonic_binning_spark.drift import psi_report_quantile

    e = _frame(spark, [0.1, 0.2, 0.3, 0.9, 1.1, 1.2, 1.9, 2.5, None, 9.0])
    a = _frame(spark, [0.5, 2.1, 2.2, 2.3, 2.4, 2.6, 2.7, 2.8, None, -3.0])
    # (a-e)ln(a/e) is invariant under swapping the populations
    fwd = psi_summary(psi_report(e, a, bins)).first()["psi"]
    rev = psi_summary(psi_report(a, e, bins)).first()["psi"]
    assert fwd == pytest.approx(rev, rel=1e-12)
    qf = psi_summary(psi_report_quantile(e, a, ["x"], n_bins=4)).first()["psi"]
    # NOTE: quantile grids are NOT symmetric (the grid follows the first
    # argument) — only assert the fitted-bins path here and that the
    # quantile path runs
    assert math.isfinite(qf)


def test_quantile_psi_collapses_duplicate_cuts(spark):
    from woe_monotonic_binning_spark.drift import psi_report_quantile

    # 90% mass point: decile cuts collapse to a handful of distinct values
    vals = [5.0] * 180 + list(np.linspace(10, 20, 20))
    df = spark.createDataFrame(pd.DataFrame({"x": vals}))
    detail = psi_report_quantile(df, df, ["x"], n_bins=10).toPandas()
    n_bins = (detail["bucket"] == "bin").sum()
    assert 2 <= n_bins < 10  # collapsed, not zero-width
    assert abs(detail["psi_component"].sum()) < 1e-12
    # constant column: one cut survives -> two open bins, still works
    const = spark.createDataFrame(pd.DataFrame({"x": [7.0] * 50}))
    d2 = psi_report_quantile(const, const, ["x"], n_bins=10).toPandas()
    assert (d2["bucket"] == "bin").sum() == 2
    # all-NULL column: loud
    nulls = spark.createDataFrame(pd.DataFrame({"x": [np.nan] * 10}))
    with pytest.raises(ValueError, match="no finite quantile cuts"):
        psi_report_quantile(nulls, nulls, ["x"])


def test_quantile_psi_partitioning_invariant(spark):
    from woe_monotonic_binning_spark.drift import psi_report_quantile

    rng = np.random.RandomState(11)
    e = spark.createDataFrame(pd.DataFrame({"x": rng.normal(size=500)}))
    a = spark.createDataFrame(pd.DataFrame({"x": rng.normal(0.5, 1.2, size=500)}))
    base = psi_report_quantile(e, a, ["x"]).toPandas().sort_values("bin")
    again = (
        psi_report_quantile(e.repartition(13), a.repartition(7), ["x"])
        .toPandas()
        .sort_values("bin")
    )
    assert list(base["expected_count"]) == list(again["expected_count"])
    assert list(base["actual_count"]) == list(again["actual_count"])
    assert np.allclose(base["psi_component"], again["psi_component"])


# --- characteristic stability (WOE/IV audit under fixed cuts) -------------


def test_characteristic_stability_reproduces_fit_on_training_data(
    spark, binning_df
):
    """On the data the bins were fitted from, the audited WOE/IV must equal
    the fitted WOE/IV bin for bin (same dist convention: the missing bucket
    participates in the totals exactly like the reference's NaN bin)."""
    from woe_monotonic_binning_spark import batch_woe_binning
    from woe_monotonic_binning_spark.drift import characteristic_stability

    df = binning_df.drop("row_id")
    bins = batch_woe_binning(df, "target", n_threshold=100).toPandas()
    detail = characteristic_stability(
        df, bins, "target", iv_threshold=0.0
    ).toPandas()
    fitted_rows = detail[detail["bucket"] == "bin"]
    assert len(fitted_rows) > 0
    resid = (fitted_rows["woe_actual"] - fitted_rows["woe_fitted"]).abs()
    assert resid.max() < 1e-9, fitted_rows[resid > 1e-9]
    # out-of-range is empty on the training population (cuts span the data)
    oor = detail[detail["bucket"] == "out_of_range"]
    assert (oor["n"] == 0).all()


def test_characteristic_stability_period_trajectory(spark):
    from woe_monotonic_binning_spark.drift import (
        characteristic_stability,
        iv_summary,
    )

    # period A: strong (not perfect — perfect separation legitimately
    # yields NULL/inf WOE, the reference's own semantics) 90/10
    # separation; period B: relationship gone
    rows = []
    for i in range(200):
        x = (i % 10) / 10.0 * 2.0  # in [0, 2)
        flip = i % 10 == 0
        rows.append(("A", x, int((x < 1.0) != flip)))
        # block-alternating target: independent of i % 10 (and so of x) —
        # i % 2 would correlate with the residue that defines x
        rows.append(("B", x, (i // 10) % 2))
    df = spark.createDataFrame(rows, "period string, x double, target int")
    bins = bins_table("x", cuts=(0.0, 1.0, 2.0), woes=(1.0, -1.0))
    detail = characteristic_stability(df, bins, "target", period_col="period")
    summ = {
        r["period"]: r["iv_actual"]
        for r in iv_summary(detail, period_col="period").collect()
    }
    assert summ["A"] > 1.0  # strong separation
    assert abs(summ["B"]) < 0.05  # signal collapsed
    b_woe = {
        r["bin"]: r["woe_actual"]
        for r in detail.filter("period = 'B' and bucket = 'bin'").collect()
    }
    assert all(abs(w) < 0.2 for w in b_woe.values())


def test_characteristic_stability_single_class_is_null_not_crash(spark):
    from woe_monotonic_binning_spark.drift import characteristic_stability

    rows = [(float(x) / 10.0 * 2, 1) for x in range(100)]  # ALL bad
    df = spark.createDataFrame(rows, "x double, target int")
    bins = bins_table("x", cuts=(0.0, 1.0, 2.0), woes=(1.0, -1.0))
    got = characteristic_stability(df, bins, "target").toPandas()
    # good side is empty: ANSI division must not blow up; WOE reads NULL
    assert got["woe_actual"].isna().all()
    # Laplace smoothing restores finite WOE
    sm = characteristic_stability(df, bins, "target", laplace=0.5).toPandas()
    fitted = sm[sm["bucket"] == "bin"]
    assert fitted["woe_actual"].notna().all()
    assert np.isfinite(fitted["woe_actual"]).all()


CHAR_ORACLE = """
WITH spec(bin, interval_lo, interval_hi, woe_fitted) AS (
    VALUES (0, 0.0, 20000.0, -0.3), (1, 20000.0, 40000.0, 0.1),
           (2, 40000.0, 60000.0, 0.4), (-1, NULL, NULL, NULL),
           (-2, NULL, NULL, NULL)
), binned AS (
    SELECT CASE WHEN l_extendedprice IS NULL THEN -2
                WHEN l_extendedprice >= 0.0 AND l_extendedprice < 20000.0 THEN 0
                WHEN l_extendedprice >= 20000.0 AND l_extendedprice < 40000.0 THEN 1
                WHEN l_extendedprice >= 40000.0 AND l_extendedprice < 60000.0 THEN 2
                ELSE -1 END AS bin,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
    FROM lineitem
), h AS (SELECT bin, COUNT(*) AS n, SUM(bad) AS nb FROM binned GROUP BY bin),
   f AS (
    SELECT spec.bin, CAST(spec.interval_lo AS DOUBLE) AS interval_lo,
           CAST(spec.interval_hi AS DOUBLE) AS interval_hi,
           CAST(spec.woe_fitted AS DOUBLE) AS woe_fitted,
           COALESCE(h.n, 0) AS n, CAST(COALESCE(h.nb, 0) AS DOUBLE) AS n_bad
    FROM spec LEFT JOIN h ON spec.bin = h.bin
), t AS (SELECT SUM(n_bad) AS bad_tot, SUM(n - n_bad) AS good_tot FROM f),
   g AS (
    SELECT f.*, (f.n - f.n_bad) AS n_good,
           (f.n - f.n_bad) / t.good_tot AS dist_good,
           f.n_bad / t.bad_tot AS dist_bad
    FROM f, t
)
SELECT 'l_extendedprice' AS variable, bin,
       CASE WHEN bin = -2 THEN 'missing' WHEN bin = -1 THEN 'out_of_range'
            ELSE 'bin' END AS bucket,
       interval_lo, interval_hi, n, n_bad, n_good, dist_good, dist_bad,
       CASE WHEN dist_bad > 0 AND dist_good > 0
            THEN LN(dist_bad / dist_good) END AS woe_actual,
       CASE WHEN dist_bad > 0 AND dist_good > 0
            THEN (dist_bad - dist_good) * LN(dist_bad / dist_good)
       END AS iv_component,
       woe_fitted,
       CASE WHEN dist_bad > 0 AND dist_good > 0
            THEN LN(dist_bad / dist_good) - woe_fitted END AS delta_woe
FROM g
"""


def test_characteristic_detail_matches_duckdb_twin(spark):
    from woe_monotonic_binning_spark.drift import characteristic_stability

    bins = bins_table(
        "l_extendedprice", cuts=(0.0, 20000.0, 40000.0, 60000.0), woes=(-0.3, 0.1, 0.4)
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").withColumn(
        "target", (F.col("l_returnflag") == "R").cast("int")
    )
    detail = characteristic_stability(li, bins, "target")
    con = duckdb_connection(SF)
    assert compare(detail, con, CHAR_ORACLE, "characteristic") == []


def test_psi_and_characteristic_scan_each_frame_once(spark):
    """Round-7 plan audit regression: totals computed as a second
    aggregation of the histogram lineage silently doubled the corpus
    scans (4 per psi_report, 2 per characteristic audit).  Pin the scan
    counts: one file scan per input frame."""
    from woe_monotonic_binning_spark.drift import (
        characteristic_stability,
        psi_report,
    )
    from woe_monotonic_binning_spark.plans import scan_read_columns

    spark.catalog.clearCache()
    bins = bins_table(
        "l_extendedprice", cuts=(0.0, 20000.0, 40000.0, 60000.0), woes=(-0.3, 0.1, 0.4)
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    detail = psi_report(li, li.filter(F.col("l_returnflag") == "R"), bins)
    assert len(scan_read_columns(detail)) == 2  # expected + actual, once each
    labeled = li.withColumn("target", (F.col("l_returnflag") == "R").cast("int"))
    char = characteristic_stability(labeled, bins, "target")
    assert len(scan_read_columns(char)) == 1
    # scans stay pruned to the audited columns
    (psi_cols, _) = scan_read_columns(detail)
    assert set(psi_cols) == {"l_extendedprice"} or set(psi_cols) == {
        "l_extendedprice",
        "l_returnflag",
    }


def test_bin_index_encoder_agreement_fuzz(spark):
    """Breadth version of the direction test: random cut grids (both
    directions, varied widths/signs) x values at edges, midpoints and
    outside — bin >= 0 iff the encoder emits, and the indexed WOE matches.
    Deterministic numpy draws; one tiny Spark job per grid."""
    from woe_monotonic_binning_spark.drift import _bin_index_expr
    from woe_monotonic_binning_spark.transform import _encode_column

    rng = np.random.default_rng(42)
    for trial in range(20):
        k = int(rng.integers(2, 9))
        cuts = np.sort(
            rng.choice(np.round(rng.normal(0, 100, 60), 3), size=k + 1, replace=False)
        )
        if len(np.unique(cuts)) != k + 1:
            continue
        woes = [round(float(w), 6) for w in rng.normal(0, 1, k)]
        if trial % 2:  # descending bins table
            cuts_l, woes_l = [float(c) for c in cuts[::-1]], list(reversed(woes))
        else:
            cuts_l, woes_l = [float(c) for c in cuts], list(woes)
        mids = [(cuts[i] + cuts[i + 1]) / 2 for i in range(k)]
        values = (
            [float(c) for c in cuts]
            + [float(m) for m in mids]
            + [float(cuts[0] - 5), float(cuts[-1] + 5)]
        )
        df = spark.createDataFrame([(v,) for v in values], "x double")
        rows = df.select(
            "x",
            _bin_index_expr(F.col("x"), cuts_l).alias("bin"),
            _encode_column(F.col("x"), cuts_l, woes_l).alias("woe"),
        ).collect()
        asc = cuts_l[0] < cuts_l[-1]
        ordered = woes_l if asc else list(reversed(woes_l))
        for r in rows:
            if r["bin"] >= 0:
                assert r["woe"] == ordered[r["bin"]], (trial, cuts_l, r)
            else:
                assert r["bin"] == OUT_OF_RANGE and r["woe"] is None, (trial, r)


def test_null_period_group_is_audited_not_fabricated(spark, bins):
    """Round-7 review: equijoins drop NULL keys, so a NULL-period group
    read as zero fractions (fake drift) in the back-test and was silently
    excluded from the characteristic audit.  Null-safe joins fix both."""
    from woe_monotonic_binning_spark.drift import characteristic_stability

    rows = []
    for v in [0.1, 0.5, 1.5, 2.5]:
        rows.append(("2024-01", v, 0))
        rows.append((None, v, 1))  # NULL vintage, identical distribution
    df = spark.createDataFrame(rows, "month string, x double, target int")
    out = {
        r["month"]: (r["psi"], r["status"])
        for r in stability_over_periods(df, bins, "month").collect()
    }
    assert None in out
    # identical distribution to the baseline: PSI must be ~0, not a
    # fabricated all-mass-vanished alarm
    assert out[None][0] == pytest.approx(0.0, abs=1e-12)
    char = characteristic_stability(
        df, bins, "target", period_col="month"
    ).toPandas()
    null_rows = char[char["month"].isna()]
    assert null_rows["n"].sum() == 4  # the NULL-period population is counted


def test_unknown_baseline_period_raises(spark, bins):
    df = spark.createDataFrame(
        [("2024-01", 0.5), ("2024-02", 1.5)], "month string, x double"
    )
    with pytest.raises(ValueError, match="does not occur"):
        stability_over_periods(df, bins, "month", baseline_period="2025-13")


def test_quantile_grid_top_edge_catches_plus_inf(spark):
    from woe_monotonic_binning_spark.drift import psi_report_quantile

    e = spark.createDataFrame(pd.DataFrame({"score": np.linspace(0, 1, 100)}))
    a = spark.createDataFrame(
        [(float("inf"),), (float("-inf"),), (0.5,)], "score double"
    )
    detail = psi_report_quantile(e, a, ["score"], n_bins=4).toPandas()
    # open edges: +inf in the TOP bin, -inf in the BOTTOM bin, nothing
    # out of range (round-7 review: +inf previously leaked to out_of_range)
    oor = detail[detail["bucket"] == "out_of_range"]
    assert (oor["actual_count"] == 0).all()
    bins_only = detail[detail["bucket"] == "bin"].sort_values("bin")
    assert bins_only.iloc[0]["actual_count"] == 1  # -inf
    assert bins_only.iloc[-1]["actual_count"] == 1  # +inf


def test_period_col_name_validation_is_loud(spark):
    """Round-7 advice: a period column named like an internal drift column
    ('variable', 'bin', 'count', ...) or containing a dot would shadow a
    groupBy key / break the alias-qualified null-safe join — reject both
    loudly instead of mis-joining."""
    from woe_monotonic_binning_spark.drift import (
        characteristic_stability,
        stability_over_periods,
    )

    bins = bins_table("x", cuts=(0.0, 1.0, 2.0), woes=(1.0, -1.0))
    df = (
        spark.createDataFrame([(0.5, 1, "a")], "x double, target int, p string")
    )
    for bad in ("variable", "bin", "count", "frac", "__tot", "__pair", "a.b", "a`b"):
        with pytest.raises(ValueError, match="period_col"):
            stability_over_periods(df, bins, bad)
        with pytest.raises(ValueError, match="period_col"):
            characteristic_stability(df, bins, "target", period_col=bad)
    # the histogram's measure column is reserved too
    with pytest.raises(ValueError, match="period_col"):
        characteristic_stability(df, bins, "target", period_col="sum_target")
    # benign names still work end-to-end, including the single letter the
    # histogram melt once used as its struct alias
    out = stability_over_periods(
        df.withColumn("month", F.lit("2024-01")), bins, "month"
    )
    assert out.count() == 1
    assert stability_over_periods(df, bins, "p").count() == 1
    char = characteristic_stability(df, bins, "target", period_col="p")
    assert char.filter(F.col("n") > 0).count() == 1


def test_psi_report_actual_filter_matches_two_frame(spark):
    """Round 18 (guide §6): the one-scan ``actual_filter`` path must emit
    the BYTE-identical detail of the two-frame form on the real sf0.01
    lineitem — every count is an integer and ``count(when(p, 1))`` counts
    exactly the rows ``filter(p)`` keeps (NULL and FALSE fall out of both
    identically) — including a predicate over a column that is NOT among
    the monitored variables, and a predicate with NULLs."""
    from woe_monotonic_binning_spark.drift import psi_report

    bins = pd.DataFrame(
        {
            "variable": ["l_extendedprice"] * 3 + ["l_quantity"] * 3,
            "interval_start_include": [0.0, 20000.0, 40000.0, 0.0, 17.0, 34.0],
            "interval_end_exclude": [20000.0, 40000.0, 60000.0, 17.0, 34.0, 51.0],
            "woe": [-0.3, 0.1, 0.4, -0.2, 0.0, 0.3],
            "iv_components": [0.4, 0.3, 0.3, 0.2, 0.15, 0.15],
        }
    )
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    # a NULL-bearing predicate column: NULLs must drop from the actual
    # side in both forms
    li = li.withColumn(
        "tax_or_null", F.when(F.col("l_tax") > 0.0, F.col("l_tax"))
    )
    for pred in (F.col("l_tax") > 0.04, F.col("tax_or_null") > 0.04):
        two = (
            psi_report(li, li.filter(pred), bins)
            .toPandas()
            .sort_values(["variable", "bin"])
            .reset_index(drop=True)
        )
        one = (
            psi_report(li, None, bins, actual_filter=pred)
            .toPandas()
            .sort_values(["variable", "bin"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(one, two, check_exact=True)

    # misuse guards
    with pytest.raises(ValueError, match="not both"):
        psi_report(li, li, bins, actual_filter=F.col("l_tax") > 0.04)
    with pytest.raises(ValueError, match="actual population"):
        psi_report(li, None, bins)


def test_psi_report_actual_filter_single_scan_plan(spark):
    """The fused path's plan must contain exactly ONE lineitem scan (the
    whole point — guide §6 shared scan), vs two in the two-frame form."""
    from woe_monotonic_binning_spark.drift import psi_report
    from woe_monotonic_binning_spark.plans import formatted_plan

    import re

    def scan_ops(df):
        # unique operator ids: formatted plans list each op in the tree AND
        # in the details section
        return len(set(re.findall(r"\((\d+)\) Scan parquet", formatted_plan(df))))

    bins = bins_table("l_quantity", cuts=(0.0, 17.0, 34.0, 51.0))
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    fused = psi_report(li, None, bins, actual_filter=F.col("l_tax") > 0.04)
    assert scan_ops(fused) == 1
    two = psi_report(li, li.filter(F.col("l_tax") > 0.04), bins)
    assert scan_ops(two) == 2

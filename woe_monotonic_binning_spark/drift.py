"""Score/feature drift monitoring over fitted bins: PSI and per-period
stability — the operational companion to WOE/IV that the reference's
credit-scoring domain assumes but never ships (binning.py fits and encodes;
nothing watches the deployed population move).

Population Stability Index between an *expected* (development/baseline)
population and an *actual* (recent/scoring) population, computed over the
SAME fitted bins the scoring path uses (``transform.compile_bin_exprs``
with identical gates, so drift is monitored on exactly the deployed
variables and exactly the deployed cut points)::

    PSI(v) = sum_b (a_b - e_b) * ln(a_b / e_b)

over an EXHAUSTIVE per-variable partition: the fitted bins, one
``out_of_range`` bucket (values outside the cut span — pandas/``apply_bins``
map these to NULL) and one ``missing`` bucket (NULL/NaN), so the per-frame
fractions always sum to 1 and a population sliding off the fitted range is
drift, not silence.  Zero fractions are clamped at ``min_frac`` before the
log (the standard Laplace-style floor; otherwise one empty bin makes PSI
infinite).  Conventional reading: < 0.1 stable, 0.1–0.25 shifting,
> 0.25 drifted.

Scale posture (the 100 TB read):

- Each frame pays ONE pass: the per-variable bin index is the same
  whole-stage-codegen CASE chain as the encoder, melted to
  ``(variable, bin)`` pairs and partially aggregated map-side, so the one
  shuffle carries at most ``tasks x variables x (bins+2)`` count rows —
  never data rows.  Every histogram here is :func:`bin_histogram`; PSI
  feeds it rows tagged expected/actual (a union of two frames, or one
  scan with a filter predicate), so both sides share one aggregation.
- Everything after the histograms is arithmetic on ``variables x bins``
  rows (hundreds), done with tiny DataFrame joins — no collect of data,
  no Python on the data path.
- ``stability_over_periods`` folds the period key into the SAME single
  pass (``variables x bins x periods`` shuffle rows), so a 36-month
  back-test is still one scan of the score table.
"""

from __future__ import annotations

import sys
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .transform import _bins_to_pandas, compile_bin_exprs

#: bin-index sentinels for the two non-fitted buckets
OUT_OF_RANGE = -1
MISSING = -2

def _bucket_label() -> Column:
    # built lazily: a module-level Column would require an active
    # SparkContext at import time
    return (
        F.when(F.col("bin") == MISSING, F.lit("missing"))
        .when(F.col("bin") == OUT_OF_RANGE, F.lit("out_of_range"))
        .otherwise(F.lit("bin"))
    )


def _status(psi: Column) -> Column:
    """The conventional PSI bands, in ONE place (used by psi_summary, the
    period back-test and the streaming monitor): < 0.1 stable, 0.1–0.25
    shifting (0.25 inclusive, matching the documented '> 0.25 drifted')."""
    return (
        F.when(psi < 0.1, F.lit("stable"))
        .when(psi <= 0.25, F.lit("shifting"))
        .otherwise(F.lit("drifted"))
    )


#: column names the drift plumbing generates internally — a user-supplied
#: period column may not collide with them (it would shadow a groupBy key
#: or a join alias and mis-join silently)
_RESERVED_COLS = frozenset(
    {
        "variable",
        "bin",
        "bucket",
        "count",
        "frac",
        "base_frac",
        "interval_lo",
        "interval_hi",
        "n",
        "n_bad",
        "n_good",
        "dist_good",
        "dist_bad",
        "woe_actual",
        "woe_fitted",
        "iv_component",
        "delta_woe",
        "psi",
        "status",
        "__tot",
        "__cnt",
        "__k",
        "__bad_tot",
        "__good_tot",
        "__pair",
    }
)


def _check_period_col(period_col: str, *, also_reserved: Sequence[str] = ()) -> None:
    """Reject period column names the internal plumbing cannot carry:
    dotted/backticked names break the ``__l.<k>`` null-safe join aliases,
    and a name colliding with an internal column ('variable', 'bin',
    'count', ...) would shadow a groupBy key or join alias and mis-join
    silently (round-7 advice).  Rename the column upstream
    (``df.withColumnRenamed``) instead."""
    if "." in period_col or "`" in period_col:
        raise ValueError(
            f"period_col {period_col!r} contains '.' or '`' — the drift "
            "join plumbing addresses it as an alias-qualified name; rename "
            "the column (withColumnRenamed) before monitoring"
        )
    if period_col in _RESERVED_COLS or period_col in set(also_reserved):
        raise ValueError(
            f"period_col {period_col!r} collides with an internal drift "
            "column name; rename the column before monitoring"
        )


def _nullsafe_left(left: DataFrame, right: DataFrame, keys, ns_key: str) -> DataFrame:
    """LEFT join on ``keys`` where ``ns_key`` compares null-safely — an
    equijoin key list silently drops NULL keys (NULL != NULL), which for a
    NULL period group meant fabricated zero fractions (round-7 review).
    Output: all left columns + right's non-key columns."""
    l, r = left.alias("__l"), right.alias("__r")
    cond = None
    for k in keys:
        lc, rc = F.col(f"__l.{k}"), F.col(f"__r.{k}")
        c = lc.eqNullSafe(rc) if k == ns_key else (lc == rc)
        cond = c if cond is None else cond & c
    extra = [c for c in right.columns if c not in keys]
    return l.join(r, cond, "left").select(
        *[F.col(f"__l.{c}") for c in left.columns],
        *[F.col(f"__r.{c}") for c in extra],
    )


def _bin_index_expr(value: Column, cuts: Sequence[float]) -> Column:
    """Bin index (0-based, ascending) for ``value`` under ``cuts`` — the
    index twin of ``transform._encode_column`` (same ``pd.cut`` closure
    semantics, binning.py:286-303): ascending cuts give ``[c_i, c_{i+1})``
    with the lowest edge included, a descending bins table flips to
    ``(c_i, c_{i+1}]``.  NULL/NaN -> ``MISSING``; outside the cut span
    (NULL under the encoder) -> ``OUT_OF_RANGE``."""
    ascending = not (cuts[0] > cuts[-1])
    cs = [float(c) for c in (cuts if ascending else reversed(cuts))]
    n = len(cs) - 1
    expr = None
    for i in range(n):
        hi = F.lit(cs[i + 1])
        cond = (value < hi) if ascending else (value <= hi)
        expr = F.when(cond, F.lit(i)) if expr is None else expr.when(cond, F.lit(i))
    lo = F.lit(cs[0])
    in_range = (value >= lo) if ascending else (value > lo)
    # beyond the TOP cut the inner chain matches nothing (the encoder maps
    # it to NULL, pd.cut right-open semantics) — including +inf under a
    # fitted +inf top cut — so it falls through to the out-of-range bucket
    return (
        F.when(value.isNull() | F.isnan(value), F.lit(MISSING))
        .when(in_range, F.coalesce(expr, F.lit(OUT_OF_RANGE)))
        .otherwise(F.lit(OUT_OF_RANGE))
    )


def bin_histogram(
    df: DataFrame,
    specs: Sequence[tuple[str, Sequence[float], Sequence[float]]],
    extra_cols: Sequence[str] = (),
    sum_cols: Sequence[str] = (),
) -> DataFrame:
    """Counts (and optional per-column sums, e.g. a 0/1 target giving the
    bad count) per ``(variable, bin[, *extra_cols])`` in ONE pass.

    The melt (one ``(variable, bin)`` struct per spec per row, exploded)
    happens map-side in the same stage as the parquet scan; partial
    aggregation collapses it before the shuffle, so shuffle volume is
    bounded by distinct keys per task, not by row count.  Each ``sum_cols``
    entry adds a ``sum_<col>`` column."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(v).alias("variable"),
                    _bin_index_expr(F.col(v).cast("double"), cuts).alias("bin"),
                )
                for v, cuts, _ in specs
            ]
        )
    ).alias("__pair")
    melted = df.select(*extra_cols, *sum_cols, pairs).select(
        "__pair.variable", "__pair.bin", *extra_cols, *sum_cols
    )
    return melted.groupBy("variable", "bin", *extra_cols).agg(
        F.count(F.lit(1)).alias("count"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
    )


def _scaffold(spark, specs) -> DataFrame:
    """Exhaustive (variable, bin, interval) frame — every fitted bin plus
    the two sentinel buckets, so zero-count bins still appear (a bin the
    actual population abandoned entirely is the loudest drift signal)."""
    rows = []
    for v, cuts, _ in specs:
        ascending = not (cuts[0] > cuts[-1])
        cs = [float(c) for c in (cuts if ascending else reversed(cuts))]
        for i in range(len(cs) - 1):
            rows.append((v, i, cs[i], cs[i + 1]))
        rows.append((v, OUT_OF_RANGE, None, None))
        rows.append((v, MISSING, None, None))
    return spark.createDataFrame(
        rows, "variable string, bin int, interval_lo double, interval_hi double"
    )


def _psi_component(e: Column, a: Column, min_frac: float) -> Column:
    ec = F.greatest(e, F.lit(float(min_frac)))
    ac = F.greatest(a, F.lit(float(min_frac)))
    return (ac - ec) * F.log(ac / ec)


def _gated_specs(
    bins, iv_threshold, bin_threshold, remove_100_corr, variables=None
) -> list:
    """The deployed variable set: ``compile_bin_exprs`` under the encoder's
    gates, optionally restricted to ``variables``.  An empty set raises —
    there is nothing to monitor."""
    specs = compile_bin_exprs(
        _bins_to_pandas(bins), iv_threshold, bin_threshold, remove_100_corr
    )
    if variables is not None:
        keep = set(variables)
        specs = [s for s in specs if s[0] in keep]
    if not specs:
        raise ValueError("no variables survive the bin gates; nothing to monitor")
    return specs


def psi_report(
    expected: DataFrame,
    actual: DataFrame | None,
    bins,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    min_frac: float = 1e-4,
    variables: Sequence[str] | None = None,
    *,
    actual_filter: Column | str | None = None,
) -> DataFrame:
    """Per-bin PSI detail between two populations under fitted ``bins``.

    ``bins`` is anything ``apply_bins`` accepts (Spark/pandas bins table or
    the reference dict-of-frames); the variable gates (``iv_threshold`` /
    ``bin_threshold`` / ``remove_100_corr``) default to the encoder's, so
    the monitored set IS the deployed set — pass ``variables`` to restrict
    further.  Returns one row per (variable, bucket): ``variable, bin,
    bucket, interval_lo, interval_hi, expected_count, actual_count,
    expected_frac, actual_frac, psi_component`` — feed to
    :func:`psi_summary` for the per-variable index.

    ``actual_filter`` (keyword-only): when the actual population is a
    FILTER of the expected one — the standard recent-window-vs-development
    monitoring shape — pass the predicate here (with ``actual=None``)
    instead of a second DataFrame.  Both histograms then ride ONE scan of
    ``expected``: the actual-side count becomes the sum of
    ``coalesce(predicate, false)`` inside the same aggregation, which is
    integer-exactly the count the two-frame form produces (``filter(p)``
    keeps exactly the rows where ``p`` is TRUE — NULL/FALSE fall out of
    both identically).  Value parity is pinned by
    tests/test_drift.py::test_psi_report_actual_filter_matches_two_frame.
    """
    specs = _gated_specs(
        bins, iv_threshold, bin_threshold, remove_100_corr, variables
    )
    if actual_filter is not None and actual is not None:
        raise ValueError(
            "pass either a second DataFrame (actual) or actual_filter, "
            "not both"
        )
    if actual_filter is None and actual is None:
        raise ValueError("psi_report needs an actual population: a second "
                         "DataFrame or actual_filter=<predicate>")
    return _psi_detail(expected, actual, specs, min_frac, actual_filter)


def psi_report_quantile(
    expected: DataFrame,
    actual: DataFrame,
    value_cols: Sequence[str],
    n_bins: int = 10,
    min_frac: float = 1e-4,
    relative_error: float = 0.0,
) -> DataFrame:
    """PSI over an equal-frequency grid derived from the EXPECTED
    population — the standard score-decile PSI, for monitoring a model
    output (or any raw column) that has no fitted bins table.

    The grid is the expected side's ``n_bins``-quantile cuts with the two
    edge bins OPEN (lowest cut −inf, highest +inf, the score-PSI
    convention: a value beyond the development range lands in an edge bin,
    it does not vanish into out-of-range — only NULL/NaN falls outside the
    grid, into the ``missing`` bucket).  Duplicate quantile cuts (mass
    points) collapse, so a skewed column yields fewer, wider bins rather
    than zero-width ones.  ``relative_error=0.0`` computes exact quantiles
    (distinct-count-bound memory, same trade as ``impute='exact'``);
    raise it (e.g. ``1e-4``) for the bounded-memory GK sketch at scale.
    Same output shape as :func:`psi_report`."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    # ONE multi-column approxQuantile call: a per-column loop would pay a
    # full scan of `expected` per monitored column (round-7 review)
    all_qs = expected.approxQuantile(list(value_cols), probs, relative_error)
    specs = []
    for col, qs in zip(value_cols, all_qs):
        inner = sorted({float(q) for q in qs if q == q})  # dedupe, drop NaN
        if not inner:
            raise ValueError(
                f"{col!r}: no finite quantile cuts (all-NULL or constant "
                "column) — nothing to grid"
            )
        cuts = [float("-inf"), *inner, float("inf")]
        specs.append((col, cuts, [0.0] * (len(cuts) - 1)))

    def open_top(df: DataFrame) -> DataFrame:
        # the grid's top edge is OPEN: +inf, which `value < inf` never
        # catches, scores as the largest finite double (round-7 review)
        return df.withColumns({
            c: F.when(F.col(c).cast("double") == float("inf"), F.lit(sys.float_info.max))
            .otherwise(F.col(c).cast("double"))
            for c in value_cols
        })

    return _psi_detail(open_top(expected), open_top(actual), specs, min_frac)


def _psi_detail(
    expected: DataFrame,
    actual: DataFrame | None,
    specs,
    min_frac: float,
    actual_filter: Column | str | None = None,
) -> DataFrame:
    # The one PSI histogram path: every row carries two 0/1 side tags,
    # __e (expected) and __a (actual), and bin_histogram sums both in ONE
    # partial/final aggregation keyed on (variable, bin).  Two frames are
    # tagged (1, 0) and (0, 1) and unioned: each input is still scanned
    # once and scan tasks are side-pure, so map-side partial aggregation
    # collapses per side.  A filter of `expected` tags one scan
    # (1, coalesce(predicate, false)) — the actual sum counts exactly the
    # rows `filter(predicate)` keeps, so both forms give the same counts.
    names = [v for v, _, _ in specs]

    def tag(df: DataFrame, e: Column, a: Column) -> DataFrame:
        return df.select(
            *[F.col(v).cast("double").alias(v) for v in names],
            e.alias("__e"),
            a.alias("__a"),
        )

    if actual_filter is None:
        tagged = tag(expected, F.lit(1), F.lit(0)).unionByName(
            tag(actual, F.lit(0), F.lit(1))
        )
    else:
        pred = F.expr(actual_filter) if isinstance(actual_filter, str) else actual_filter
        tagged = tag(
            expected, F.lit(1), F.coalesce(pred, F.lit(False)).cast("int")
        )
    hist = bin_histogram(tagged, specs, sum_cols=("__e", "__a"))
    return _psi_finish(_scaffold(expected.sparkSession, specs), hist, min_frac)


def _psi_finish(scaffold: DataFrame, hist: DataFrame, min_frac: float) -> DataFrame:
    """Scaffold join + per-variable fractions + PSI component over the
    side-tagged histogram of :func:`_psi_detail`.

    Totals are a WINDOW over the scaffold-joined frame, not a second
    aggregation of ``hist``: hist's lineage is a full corpus scan, and a
    separate groupBy+join would re-evaluate it (two scans per frame,
    caught in the round-7 plan audit).  The window runs over
    ``variables x (bins+2)`` rows; the scaffold is exhaustive, so every
    hist row matches exactly one scaffold row and the window sum IS the
    frame total."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("variable")
    joined = (
        scaffold.join(hist, ["variable", "bin"], "left")
        .withColumn("expected_count", F.coalesce(F.col("sum___e"), F.lit(0)))
        .withColumn("actual_count", F.coalesce(F.col("sum___a"), F.lit(0)))
        .withColumn(
            "expected_frac",
            F.col("expected_count")
            / F.greatest(F.sum("expected_count").over(w), F.lit(1)),
        )
        .withColumn(
            "actual_frac",
            F.col("actual_count")
            / F.greatest(F.sum("actual_count").over(w), F.lit(1)),
        )
    )
    return joined.select(
        "variable",
        "bin",
        _bucket_label().alias("bucket"),
        "interval_lo",
        "interval_hi",
        "expected_count",
        "actual_count",
        "expected_frac",
        "actual_frac",
        _psi_component(
            F.col("expected_frac"), F.col("actual_frac"), min_frac
        ).alias("psi_component"),
    )


def baseline_fractions(
    expected: DataFrame,
    bins,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    variables: Sequence[str] | None = None,
):
    """Pin the expected side of the PSI once, batch-side: the tiny
    ``(variable, bin, expected_frac)`` pandas frame a serving-time monitor
    (``streaming.drift.streaming_psi_monitor``) compares every micro-batch
    against — the same train-time-statistics-at-serve-time pattern as the
    precomputed median fill values.  One histogram pass over ``expected``
    (the :func:`psi_report` detail with an empty actual side); the
    returned frame is ``variables x (bins+2)`` rows."""
    return (
        psi_report(
            expected,
            None,
            bins,
            iv_threshold,
            bin_threshold,
            remove_100_corr,
            variables=variables,
            actual_filter=F.lit(False),
        )
        .select("variable", "bin", "expected_frac")
        .toPandas()
    )


def psi_summary(detail: DataFrame) -> DataFrame:
    """Fold a :func:`psi_report` detail to one row per variable:
    ``variable, psi, status`` with the conventional bands (< 0.1 stable,
    0.1–0.25 shifting, > 0.25 drifted)."""
    psi = F.sum("psi_component").alias("psi")
    return detail.groupBy("variable").agg(psi).select(
        "variable", "psi", _status(F.col("psi")).alias("status")
    )


def stability_over_periods(
    df: DataFrame,
    bins,
    period_col: str,
    baseline_period=None,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    min_frac: float = 1e-4,
) -> DataFrame:
    """PSI of every period's population against a baseline period, in ONE
    pass over ``df`` — the back-test/monitoring view (``variable, period,
    psi, status``; the baseline period reports PSI 0 against itself).

    ``baseline_period=None`` uses the minimum period value (the earliest
    vintage).  The single histogram pass groups by
    ``(variable, bin, period)``; everything downstream is arithmetic on
    ``variables x bins x periods`` rows."""
    _check_period_col(period_col)
    specs = _gated_specs(bins, iv_threshold, bin_threshold, remove_100_corr)
    hist = bin_histogram(df, specs, extra_cols=(period_col,)).persist()
    try:
        if baseline_period is None:
            # F.min skips NULL periods — a NULL vintage cannot be the
            # implicit baseline (None is the auto sentinel)
            baseline_period = hist.agg(F.min(period_col)).first()[0]
            if baseline_period is None:
                raise ValueError(
                    f"no non-NULL {period_col!r} values; cannot pick a baseline"
                )
        elif (
            hist.filter(F.col(period_col) == F.lit(baseline_period)).limit(1).count()
            == 0
        ):
            # a typo'd baseline would empty the inner join below and a
            # monitoring job would silently report "no rows" as all-stable
            raise ValueError(
                f"baseline_period {baseline_period!r} does not occur in "
                f"{period_col!r}"
            )
        scaffold = _scaffold(df.sparkSession, specs)
        periods = hist.select(period_col).distinct()
        # exhaustive (variable, bin, period) frame so an abandoned bin
        # still contributes its vanished mass
        grid = scaffold.select("variable", "bin").crossJoin(periods)
        totals = hist.groupBy("variable", period_col).agg(
            F.sum("count").alias("__tot")
        )
        # null-safe on the period key: an equijoin drops the NULL-period
        # group's counts and fabricates zero fractions (round-7 review)
        fracs = _nullsafe_left(
            _nullsafe_left(grid, hist, ["variable", "bin", period_col], period_col),
            totals,
            ["variable", period_col],
            period_col,
        ).select(
            "variable",
            "bin",
            period_col,
            (
                F.coalesce(F.col("count"), F.lit(0))
                / F.coalesce(F.col("__tot"), F.lit(1))
            ).alias("frac"),
        )
        base = fracs.filter(F.col(period_col) == F.lit(baseline_period)).select(
            "variable", "bin", F.col("frac").alias("base_frac")
        )
        out = (
            fracs.join(base, ["variable", "bin"])
            .groupBy("variable", period_col)
            .agg(
                F.sum(
                    _psi_component(F.col("base_frac"), F.col("frac"), min_frac)
                ).alias("psi")
            )
            .select(
                "variable",
                period_col,
                "psi",
                _status(F.col("psi")).alias("status"),
            )
        )
        # the two derived frames above read `hist` twice; materialise the
        # result while the persist is alive, then release it
        out = out.localCheckpoint(eager=True)
    finally:
        hist.unpersist()
    return out


def characteristic_stability(
    df: DataFrame,
    bins,
    target: str,
    period_col: str | None = None,
    iv_threshold: float = 0.02,
    bin_threshold: int = 2,
    remove_100_corr: bool = True,
    laplace: float = 0.0,
) -> DataFrame:
    """Characteristic analysis: recompute each fitted bin's WOE/IV on a
    LABELED population (optionally per period) under the FIXED fitted
    cuts, so the risk separation the fit promised can be audited against
    what the portfolio actually did — the companion report to PSI (PSI
    watches the population move; this watches the target relationship
    move).

    Per ``(variable[, period], bin)``: ``n``, ``n_bad`` (``target`` sum —
    0/1 like the fit), ``n_good``, ``dist_good``/``dist_bad`` (per
    variable-period totals over the exhaustive bucket set, matching the
    reference's convention of including the NaN bin in the distributions,
    binning.py's dist sums), ``woe_actual`` (``ln(dist_bad/dist_good)``,
    the fitted formula — NULL where either side is empty unless
    ``laplace`` > 0 adds +L/(tot+L*k) smoothing, where ``k`` counts ALL
    grid buckets — the fitted bins PLUS the two always-present sentinel
    buckets (``missing``/``out_of_range``) — so the smoothed
    distributions still sum to 1 over the exhaustive partition; slightly
    stronger smoothing than a fitted-bins-only ``k`` would give),
    ``iv_component``, ``woe_fitted`` (NULL for the sentinel buckets) and
    ``delta_woe``.  Sum ``iv_component`` per (variable, period) for the
    IV trajectory; a drifting |delta_woe| on a high-mass bin is the
    earliest sign a scorecard needs refitting.

    One pass over ``df`` (the same melt/partial-agg histogram as PSI with
    a target-sum measure); everything downstream is arithmetic on
    ``variables x bins x periods`` rows."""
    if period_col is not None:
        # the histogram also emits sum_<target>; a period column of that
        # name would collide with the measure column
        _check_period_col(period_col, also_reserved=(f"sum_{target}",))
    specs = _gated_specs(bins, iv_threshold, bin_threshold, remove_100_corr)
    spark = df.sparkSession
    extra = (period_col,) if period_col else ()
    hist = bin_histogram(df, specs, extra_cols=extra, sum_cols=(target,))
    if period_col:
        # the period grid needs distinct periods — a second evaluation of
        # hist's corpus-scan lineage unless the (tiny) histogram is
        # pinned; released after the eager materialisation below
        hist = hist.persist()
    scaffold = _scaffold(spark, specs)
    fitted = spark.createDataFrame(
        [
            (v, i, float(w))
            for v, cuts, woes in specs
            for i, w in enumerate(
                woes if not (cuts[0] > cuts[-1]) else list(reversed(woes))
            )
        ],
        "variable string, bin int, woe_fitted double",
    )
    if period_col:
        grid = scaffold.crossJoin(hist.select(period_col).distinct())
        keys = ["variable", "bin", period_col]
        tot_keys = ["variable", period_col]
        # null-safe on the period key: an equijoin would silently exclude
        # the NULL-period group from the audit (round-7 review)
        joined = _nullsafe_left(grid, hist, keys, period_col)
    else:
        grid = scaffold
        keys = ["variable", "bin"]
        tot_keys = ["variable"]
        joined = grid.join(hist, keys, "left")
    full = joined.select(
        *keys,
        "interval_lo",
        "interval_hi",
        F.coalesce(F.col("count"), F.lit(0)).alias("n"),
        F.coalesce(F.col(f"sum_{target}"), F.lit(0)).cast("double").alias("n_bad"),
    )
    # class totals as WINDOWS over the grid-joined frame (variables x bins
    # x periods rows), not a groupBy+self-join — the latter re-evaluates
    # `hist`'s corpus-scan lineage a second time (round-7 plan audit, same
    # fix as _psi_finish)
    from pyspark.sql.window import Window

    tw = Window.partitionBy(*tot_keys)
    full = (
        full.withColumn("__bad_tot", F.sum("n_bad").over(tw))
        .withColumn("__good_tot", F.sum(F.col("n") - F.col("n_bad")).over(tw))
        .withColumn("__k", F.count(F.lit(1)).over(tw))
    )
    lp = F.lit(float(laplace))
    # try_divide, not /: a single-class period has a zero good or bad
    # total, and ANSI mode turns double division by zero into a hard error
    # — the audit must report NULL WOE there, not crash the job
    out = full.select(
        *keys,
        _bucket_label().alias("bucket"),
        "interval_lo",
        "interval_hi",
        "n",
        "n_bad",
        (F.col("n") - F.col("n_bad")).alias("n_good"),
        F.try_divide(
            F.col("n") - F.col("n_bad") + lp,
            F.col("__good_tot") + lp * F.col("__k"),
        ).alias("dist_good"),
        F.try_divide(
            F.col("n_bad") + lp, F.col("__bad_tot") + lp * F.col("__k")
        ).alias("dist_bad"),
    )
    # log(<=0) is NULL (not an error) even under ANSI; try_divide covers
    # the dist_good == 0 divisor
    woe = F.log(F.try_divide(F.col("dist_bad"), F.col("dist_good")))
    out = out.withColumn("woe_actual", woe).withColumn(
        "iv_component", (F.col("dist_bad") - F.col("dist_good")) * F.col("woe_actual")
    )
    out = out.join(fitted, ["variable", "bin"], "left").withColumn(
        "delta_woe", F.col("woe_actual") - F.col("woe_fitted")
    )
    if period_col:
        # materialise while the histogram persist is alive, then release
        # (same owned-cache lifecycle as stability_over_periods)
        try:
            out = out.localCheckpoint(eager=True)
        finally:
            hist.unpersist()
    return out


def iv_summary(detail: DataFrame, period_col: str | None = None) -> DataFrame:
    """Fold a :func:`characteristic_stability` detail to the IV
    trajectory: ``variable[, period], iv_actual, max_abs_delta_woe``."""
    keys = ["variable"] + ([period_col] if period_col else [])
    return detail.groupBy(*keys).agg(
        F.sum("iv_component").alias("iv_actual"),
        F.max(F.abs("delta_woe")).alias("max_abs_delta_woe"),
    )

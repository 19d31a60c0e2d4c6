"""Spark-side fit path: raw rows -> per-variable group summary -> bins table.

Architecture (SURVEY.md sections 1.2, 3.4, 7): the reference fans out one OS
process per feature column over raw pandas frames (binning.py:78-100); here
a single Spark job handles every column at once:

    parquet scan
      -> select/cast (column pruning reaches the scan)
      -> unpivot to long (variable, value, target)        [no shuffle]
      -> groupBy(variable, value).agg(count,sum,sumsq)    [ONE shuffle,
             partial aggregation map-side via Catalyst]
      -> optional quantile cap on distinct values          [scale guard]
      -> groupBy(variable).applyInPandas(fit)             [shuffle on
             variable only moves the tiny summary; Arrow-batched]
      -> bins DataFrame (is_df shape, binning.py:271-277)

The iterative PAVA / z-test / WOE-merge loops run in ``_algo`` on at most
``k`` rows per variable (k = distinct values), never on raw rows — the
reference's own key perf idea (binning.py:121), preserved distributedly.

At 100 TB the only full-data pass is the single hash aggregation; its output
is bounded by sum-of-distinct-values, and the ``max_distinct`` guard keeps
that bounded too (documented deviation, SURVEY section 4d).
"""

from __future__ import annotations

import logging
import math
from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import _algo
from ._rows import local_table
from ._algo import BINS_COLUMNS, FitParams

_log = logging.getLogger(__name__)

# max_distinct="auto" resolution: 8192 buckets keeps any per-variable
# applyInPandas input under ~1 MB while leaving quantile resolution far
# above any realistic bin count (the reference fits <100 bins).
AUTO_MAX_DISTINCT = 8192

BINS_SCHEMA_DDL = (
    "variable string, interval_start_include double, interval_end_exclude double, "
    "size double, mean double, bads double, goods double, "
    "dist_good double, dist_bad double, woe double, iv_components double"
)


def melt_features(df: DataFrame, target: str, columns: Sequence[str]) -> DataFrame:
    """Wide -> long ``(__target, variable, value)`` with NaN normalised to NULL.

    Replaces the reference's per-column 2-column projections
    (binning.py:90,96) with one unpivot; Catalyst prunes the parquet scan to
    exactly ``columns + [target]``.
    """
    # try_cast, not cast: under ANSI mode (Spark 4 default) a single malformed
    # value would fail the whole job; malformed/non-numeric values become the
    # missing group instead (pandas-style coercion).
    casted = df.select(
        F.col(target).cast("double").alias("__target"),
        *[F.expr(f"try_cast(`{c}` as double)").alias(c) for c in columns],
    )
    long = casted.unpivot("__target", list(columns), "variable", "value")
    return long.withColumn(
        "value", F.when(F.isnan("value"), F.lit(None).cast("double")).otherwise(F.col("value"))
    )


def _melt_features_indexed(df: DataFrame, target: str, columns: Sequence[str]) -> DataFrame:
    """``melt_features`` with the variable key carried as the column INDEX
    rendered as a short decimal string ("0", "1", ...) instead of the
    column name (round 18, guide §2.3 "shuffle fewer bytes").

    The variable key rides EVERY row of the melted long table through the
    one raw-data shuffle, both hash-aggregate key probes, and the quantize
    range repartition; a 1-2 byte key against 10-20 byte column names cuts
    the key bytes and the per-row string hashing/comparison work on all of
    them.  Internal to ``fit_bins`` — the fit UDF maps indices back to
    names (``_fit_udf(params, names=...)``), so the bins output is
    byte-identical; the public ``melt_features`` keeps the name-keyed
    shape.  Value-parity pinned by
    tests/test_fit_parity.py::test_fit_indexed_melt_matches_names.
    """
    # rename the target in the same projection: an index key like "1" must
    # not collide with a target column named "1"
    renamed = df.select(
        F.col(target).alias("__target"),
        *[F.col(f"`{c}`").alias(str(i)) for i, c in enumerate(columns)],
    )
    return melt_features(renamed, "__target", [str(i) for i in range(len(columns))])


def summarize(long: DataFrame) -> DataFrame:
    """The one raw-data pass: per (variable, value) target moments.

    pandas ``groupby(col).agg(mean,size,std)`` (binning.py:121-129) carried
    as (count, sum, sum-of-squares) so that groups re-aggregate exactly under
    the quantile cap; mean and ddof=1 std are derived in the UDF
    (``_algo._std_from_moments``).  NULL value = the missing group (feeds the
    NaN bin, binning.py:233-238).
    """
    return long.groupBy("variable", "value").agg(
        F.count("*").cast("double").alias("size"),
        F.sum("__target").alias("bads"),
        F.sum(F.col("__target") * F.col("__target")).alias("sumsq"),
    )


def _quantize_running_sums(batches):
    """Arrow kernel for ``quantize_summary`` step 2: sort THIS partition's
    summary rows by (variable, value) and emit each row's per-variable
    running sum of non-null sizes excluding itself (``__cum_local`` — the
    former window's ``sum(nn_size) - nn_size``).

    Rows of one (variable, partition) group are co-located by the range
    repartition, so the sort and the prefix sum are purely local.  The
    accumulation runs PER GROUP from zero in value order — the exact
    addition order of the window aggregate it replaces, so results are
    bit-identical for any float sizes, not just integral counts.  NULL
    values (the missing group) contribute 0 and their own ``__cum_local``
    is never consumed downstream (the bucket expression requires a
    non-null value), so their sort placement is irrelevant.
    """
    import numpy as np
    import pyarrow as pa

    batch_list = list(batches)
    if not batch_list:
        return
    tbl = pa.Table.from_batches(batch_list)
    value = tbl.column("value").to_pandas().to_numpy(dtype="float64")
    size = tbl.column("size").to_pandas().to_numpy(dtype="float64")
    # factorize variable -> int codes: grouping only, order irrelevant
    # (the prefix sum restarts at every variable boundary either way)
    codes = pa.compute.dictionary_encode(
        pa.concat_arrays(tbl.column("variable").chunks)
    ).indices.to_numpy(zero_copy_only=False)
    # NaN here means NULL (melt normalises true NaN to NULL before the
    # summary); np.lexsort places NaN last within each variable group,
    # where its zero contribution cannot perturb any non-null prefix.
    order = np.lexsort((value, codes))
    nn = np.where(np.isnan(value[order]), 0.0, size[order])
    g = codes[order]
    cum_local = np.empty(len(g), dtype="float64")
    bounds = np.flatnonzero(np.concatenate(([True], g[1:] != g[:-1])))
    for i, start in enumerate(bounds):
        stop = bounds[i + 1] if i + 1 < len(bounds) else len(g)
        seg = nn[start:stop]
        # exclusive running sum, accumulated left-to-right from zero —
        # the window aggregate's exact addition order
        cum_local[start:stop] = np.cumsum(seg) - seg
    out = tbl.take(pa.array(order, type=pa.int64()))
    out = out.append_column("__cum_local", pa.array(cum_local, type=pa.float64()))
    yield from out.to_batches()


def _aqe_coalesces(spark) -> bool:
    """True when AQE will coalesce an uncounted range shuffle down from at
    least ``defaultParallelism`` initial partitions."""
    conf = spark.conf
    initial = conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
    initial = initial or conf.get("spark.sql.shuffle.partitions")
    return (
        conf.get("spark.sql.adaptive.enabled").lower() == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.enabled").lower() == "true"
        and int(initial) >= spark.sparkContext.defaultParallelism
    )


def quantize_summary(
    summary: DataFrame, max_distinct: int, parallelism: int | None = None
) -> DataFrame:
    """Scale guard: cap distinct values per variable by exact equal-frequency
    pre-binning.

    Documented deviation from the reference (SURVEY section 4d): variables
    whose distinct-value count exceeds ``max_distinct`` have their values
    snapped to at most ``max_distinct`` weighted-quantile buckets before the
    iterative fit, bounding the pandas-UDF input.  Bin *edges* then fall on
    bucket-minimum values; WOE/IV are computed on the re-aggregated (exact)
    moments.

    Implementation works entirely on the already-aggregated summary — no
    second raw-data pass, no percentile sketch: the bucket of a value is
    ``floor(cumulative_row_fraction_before_it * B)``, i.e. exact weighted
    quantiles.  The cumulative sums are a DISTRIBUTED prefix sum, so no
    single task ever sorts a whole variable (a per-``variable`` window
    would — the exact scale cliff this guard exists to avoid):

    1. range-repartition on ``(variable, value)`` — contiguous, ordered
       value ranges per partition — and pin ``spark_partition_id``;
    2. per-(variable, partition) running sums computed PARTITION-LOCALLY
       in one ``mapInArrow`` pass (round 18, guide §2.4/§4.2): the rows
       of a (variable, partition) group are co-located by construction,
       but Catalyst cannot know that, so the former window keyed by
       ``(variable, __pid)`` re-shuffled and JVM-sorted the entire summary
       just to regain a clustering it already had.  The Arrow task sorts
       its own partition with numpy and emits the running sum directly —
       no Exchange, no external sort, one columnar boundary crossing of
       the narrow summary rows;
    3. per-(variable, partition) subtotals (a tiny aggregation: at most
       ``partitions x #variables`` rows) cumulate across partitions into
       offsets — range partitioning guarantees partition order == value
       order — and broadcast-join back.

    The repartitioned summary is eagerly ``localCheckpoint``-ed, not merely
    persisted: the subtotal branch and the main path both consume it, and
    partition ids must be identical on both sides.  ``persist()`` alone
    cannot guarantee that — the broadcast branch may race the probe side
    before the cache is populated, and cache *eviction* would recompute the
    lineage with resampled range boundaries, changing ``__pid`` mid-query.
    Checkpointing materializes the partitions once and truncates the
    lineage, so recomputation (and therefore re-sampling) is impossible by
    construction.  Footprint is the summary itself — sum of distinct
    counts, already a tiny fraction of the raw data (same documented
    pattern as the MinHash posting list).

    Memory bound of the one Python crossing: the step-2 ``mapInArrow``
    kernel collects its whole range partition of the summary before it
    sorts, so each Python worker holds one partition (not one Arrow
    batch).  By default adaptive query execution (AQE) sizes the
    partitions: the range shuffle has no fixed count, and AQE coalesces
    neighbouring ranges to about ``shuffle bytes / defaultParallelism``,
    but not below ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
    (1 MB of shuffle data by default).  So a task holds about the larger
    of an even ``defaultParallelism`` split and 1 MB of shuffle data: a
    large summary still gets about ``defaultParallelism`` partitions, and
    a small one is a single partition, so one Python task (each task costs
    a worker ~0.2 s of fixed CPU, and an Arrow-loaded worker keeps ~140 MB
    of RSS).  Merging neighbours keeps partition order == value order, and
    the fit's sizes are integral counts, so the prefix sums (and the
    buckets) are exact under any split.  Without AQE partition coalescing,
    or with fewer initial shuffle partitions
    (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, else
    ``spark.sql.shuffle.partitions``) than ``defaultParallelism``, the
    count is ``defaultParallelism``; ``parallelism=n`` (n >= 1) fixes it at
    n.  Each call logs the checkpointed partition count, and what chose it
    (``aqe``, ``parallelism=n`` or ``defaultParallelism``), at INFO on this
    module's logger.

    ``max_distinct`` must be at least 1: a cap of 0 or below would snap
    every value of every variable into one bucket.  ``parallelism``, when
    given, must be at least 1 too.
    """
    from pyspark.sql.window import Window

    if max_distinct < 1:
        raise ValueError(f"max_distinct must be >= 1, got {max_distinct}")
    if parallelism is not None and parallelism < 1:
        raise ValueError(f"parallelism must be >= 1, got {parallelism}")

    spark = summary.sparkSession
    if parallelism is not None:
        chosen = f"parallelism={parallelism}"
    elif _aqe_coalesces(spark):
        chosen = "aqe"
    else:
        parallelism = spark.sparkContext.defaultParallelism
        chosen = "defaultParallelism"
    partitions = () if parallelism is None else (parallelism,)
    nn_size = F.when(F.col("value").isNotNull(), F.col("size")).otherwise(F.lit(0.0))

    rp = (
        summary.select("variable", "value", "size", "bads", "sumsq")
        .repartitionByRange(*partitions, "variable", "value")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # the checkpoint's partitions are already materialized: no Spark job
    _log.info(
        "quantize_summary: %d range partitions (%s)", rp.rdd.getNumPartitions(), chosen
    )
    sub = rp.groupBy("variable", "__pid").agg(
        F.sum(nn_size).alias("__ptot"),
        # count NON-NULL distinct values only: the missing-group summary
        # row is not a distinct value, and counting it pushed a variable
        # with exactly max_distinct non-null distincts plus NULLs over the
        # cap — quantizing a variable fit_bins promises re-aggregates to
        # itself bit-identically (round-8 review)
        F.count("value").alias("__pk"),
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
    # Partition-local running sums via one Arrow pass instead of a window
    # keyed by (variable, __pid): the window's ClusteredDistribution
    # re-shuffled and JVM-sorted the ENTIRE summary to regain the
    # co-location the range repartition had already established (round 18,
    # guide §2.4 "remove shuffles outright" / §4.2).  Bit-identical values:
    # the kernel accumulates per (variable, partition) group from zero in
    # value order — the window aggregate's exact addition order (pinned by
    # tests/test_fit_parity.py::test_quantize_arrow_cumsum_matches_window).
    local = rp.mapInArrow(
        _quantize_running_sums,
        schema=(
            "variable string, value double, size double, bads double, "
            "sumsq double, __pid int, __cum_local double"
        ),
    )
    annotated = local.join(F.broadcast(offsets), ["variable", "__pid"]).withColumn(
        "__cum_before", F.col("__offset") + F.col("__cum_local")
    )
    # round the fraction to 9 dp before flooring: 1-ulp summation noise in
    # __cum_before must not flip a value across an exact bucket edge (the
    # bucket id would then depend on partition count — a determinism bug).
    bucket = F.when(
        (F.col("__k") > max_distinct) & F.col("value").isNotNull(),
        F.least(
            F.floor(F.round(F.col("__cum_before") / F.col("__total") * max_distinct, 9)),
            F.lit(max_distinct - 1),
        ),
    )
    # group key: the bucket for capped rows, the value itself otherwise —
    # under-cap variables and the missing group re-aggregate to themselves,
    # so one hash agg handles both branches.
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


def _fit_udf(params: FitParams, names: Sequence[str] | None = None):
    # sep_value gating (deviations D5/D6, _algo.py module docstring):
    # `is not None` — not truthiness — so sep_value=0.0 is active (the
    # reference's `if sep_value:` at binning.py:88 silently disables it),
    # and the sep path is taken only when the variable actually contains
    # the value (the reference IndexErrors on the empty sep partition,
    # binning.py:35-42).
    #
    # ``names`` (round 18): when fit_bins melts with the index-keyed
    # variable column (_melt_features_indexed), this maps the short key
    # back to the real column name so the bins table is unchanged.
    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        name = names[int(pdf["variable"].iloc[0])] if names is not None else None
        summary = _algo.summary_from_pandas(pdf, variable=name)
        if params.sep_value is not None and (summary.values == float(params.sep_value)).any():
            return _algo.fit_variable_sep(summary, params)
        return _algo.fit_variable(summary, params)

    return fit_one


def fit_bins(
    df: DataFrame,
    target: str,
    columns: Iterable[str] | None = None,
    n_threshold: float | None = None,
    n_occurences: float = 1.0,
    p_threshold: float = 0.1,
    sep_value: float | None = None,
    merge_threshold: float | None = None,
    sort_overload: bool | None = None,
    max_distinct: int | str | None = None,
) -> DataFrame:
    """Fit WOE bins for every feature column in one distributed job.

    Spark equivalent of ``batch_woe_binning`` (binning.py:78-100) returning
    the concatenated ``is_df=True`` bins shape (binning.py:271-277):
    11 columns, one row per bin, keyed by ``variable``.

    ``n_threshold=None`` resolves to ``ceil(n/20)`` inside the UDF
    (binning.py:84-87) — per-variable row totals equal the dataset row count,
    so no extra driver-side ``count()`` is needed.

    ``max_distinct="auto"`` resolves to ``AUTO_MAX_DISTINCT`` (8192): the
    cap every fit should carry at scale — an unguarded high-cardinality
    double column otherwise feeds its whole distinct-value set to one
    ``applyInPandas`` group.  The guard is per-variable (under-cap
    variables re-aggregate to themselves bit-identically), so "auto"
    changes nothing on low-cardinality data; the explicit ``None`` default
    keeps exact reference parity for corpora known to be narrow.
    """
    if columns is None:
        # dtype strings carry precision for decimals ("decimal(12,2)"), so
        # prefix-match; a bare `== "decimal"` would never hit.
        columns = [
            c for c, t in df.dtypes
            if c != target
            and (
                t in ("double", "float", "int", "bigint", "smallint", "tinyint")
                or t.startswith("decimal")
            )
        ]
    columns = list(columns)
    degenerate = [c for c in columns if c == target]
    columns = [c for c in columns if c != target]

    params = FitParams(
        n_threshold=n_threshold,
        n_occurences=n_occurences,
        p_threshold=p_threshold,
        sort_overload=sort_overload,
        merge_threshold=merge_threshold,
        sep_value=sep_value,
    )
    spark = df.sparkSession
    deg = None
    if degenerate:
        deg = spark.createDataFrame(
            pd.concat([_algo.degenerate_bins(c) for c in degenerate]), schema=BINS_SCHEMA_DDL
        )
    if not columns:
        # an unpivot needs a value column: the degenerate rows alone, or
        # no bins — the reference's batch returns {} (SURVEY section 3.1)
        return deg if deg is not None else local_table(spark, [], BINS_SCHEMA_DDL)
    long = _melt_features_indexed(df, target, columns)
    summary = summarize(long)
    if max_distinct == "auto":
        max_distinct = AUTO_MAX_DISTINCT
    if max_distinct is not None:
        summary = quantize_summary(summary, int(max_distinct))
    bins = summary.groupBy("variable").applyInPandas(
        _fit_udf(params, names=columns), schema=BINS_SCHEMA_DDL
    )
    return bins if deg is None else bins.unionByName(deg)


def woe_binning(
    df: DataFrame,
    target: str,
    column: str,
    n_threshold: float,
    n_occurences: float = 1.0,
    p_threshold: float = 0.1,
    sort_overload: bool | None = None,
    merge_threshold: float | None = None,
    max_distinct: int | str | None = None,
) -> DataFrame:
    """Single-variable fit — API parity with ``woe_binning`` (binning.py:103)."""
    if column == target:
        return df.sparkSession.createDataFrame(
            _algo.degenerate_bins(target), schema=BINS_SCHEMA_DDL
        )
    return fit_bins(
        df,
        target,
        [column],
        n_threshold=n_threshold,
        n_occurences=n_occurences,
        p_threshold=p_threshold,
        sort_overload=sort_overload,
        merge_threshold=merge_threshold,
        max_distinct=max_distinct,
    )


def woe_binning_sep(
    df: DataFrame,
    target: str,
    column: str,
    sep_value: float,
    n_threshold: float,
    n_occurences: float = 1.0,
    p_threshold: float = 0.1,
    merge_threshold: float | None = None,
    max_distinct: int | str | None = None,
) -> DataFrame:
    """Special-value fit — API parity with ``woe_binning_sep`` (binning.py:32)."""
    return fit_bins(
        df,
        target,
        [column],
        n_threshold=n_threshold,
        n_occurences=n_occurences,
        p_threshold=p_threshold,
        sep_value=sep_value,
        merge_threshold=merge_threshold,
        max_distinct=max_distinct,
    )


def batch_woe_binning(
    df: DataFrame,
    target: str,
    n_threshold: float | None = None,
    n_occurences: float = 1.0,
    p_threshold: float = 0.1,
    sep_value: float | None = None,
    merge_threshold: float | None = None,
    max_distinct: int | str | None = None,
) -> DataFrame:
    """All-columns fit — API parity with ``batch_woe_binning`` (binning.py:78).

    Returns one bins DataFrame rather than a dict; ``transform.apply_bins``
    accepts it directly (the reference's ``is_df=True`` shape).
    """
    return fit_bins(
        df,
        target,
        None,
        n_threshold=n_threshold,
        n_occurences=n_occurences,
        p_threshold=p_threshold,
        sep_value=sep_value,
        merge_threshold=merge_threshold,
        max_distinct=max_distinct,
    )


def merge_bins(bins, bins_index: list[int]):
    """Manually merge a contiguous run of fitted bins — API parity with
    ``merge_bins`` (binning.py:14-29).

    ``bins`` may be a Spark bins DataFrame (single variable) or a pandas
    frame; ``bins_index`` is the positional range to merge (sorted, treated
    as [min..max] like the reference's slice).  Returns the same kind that
    was passed in.  WOE/IV of the merged bin are recomputed against the
    whole-table good/bad totals, exactly as the reference does.
    """
    idx = sorted(int(i) for i in bins_index)
    lo, hi = idx[0], idx[-1]

    def _merge_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["variable"].nunique() > 1:
            # positional indices are only meaningful within ONE variable's
            # frame; merging across variables would silently relabel rows
            # under iloc[0]'s variable (round-8 review)
            raise ValueError(
                "merge_bins takes a single variable's bins; got "
                f"{sorted(pdf['variable'].unique())} — filter first"
            )
        return _algo.merge_bins_rows(pdf.reset_index(drop=True), lo, hi)

    if isinstance(bins, pd.DataFrame):
        return _merge_pdf(bins)
    spark = bins.sparkSession
    pdf = bins.toPandas()
    # Spark guarantees NO row order: a bins table round-tripped through
    # parquet (or any reordering plan) arrives in arbitrary partition
    # order, and positional indices would then address the wrong bins
    # (round-8 review).  A freshly-fit frame's order is a contiguous
    # interval chain (ascending or descending) with the missing row last —
    # keep such an order verbatim (reference display-order semantics for
    # both directions); otherwise reconstruct ascending interval order,
    # missing row last, and warn that positions now address THAT order.
    clean = pdf.dropna(subset=["interval_start_include"])
    starts = clean["interval_start_include"].to_numpy()
    ends = clean["interval_end_exclude"].to_numpy()
    chained = len(clean) <= 1 or (
        (starts[1:] == ends[:-1]).all() or (ends[1:] == starts[:-1]).all()
    )
    missing_last = clean.index.max() <= len(pdf) - 1 and (
        pdf.index.difference(clean.index) >= clean.index.max()
    ).all() if len(clean) else True
    if not (chained and missing_last):
        import warnings

        warnings.warn(
            "merge_bins received a bins DataFrame whose rows are not in "
            "fit order (reordered by a shuffle or a file round-trip); "
            "reordering to ascending intervals with the missing row last "
            "— bins_index positions address that order",
            stacklevel=2,
        )
        pdf = pd.concat(
            [
                clean.sort_values("interval_start_include"),
                pdf[pdf["interval_start_include"].isna()],
            ],
            ignore_index=True,
        )
    merged = _merge_pdf(pdf)
    return spark.createDataFrame(merged, schema=BINS_SCHEMA_DDL)


def unpack_woe(args):
    """Tuple-splat helper — API parity with ``unpack_woe`` (binning.py:10-11).

    The reference needs it to feed ``multiprocessing.map``; the Spark engine
    has no process fan-out, so this simply forwards to ``woe_binning``.
    """
    return woe_binning(*args)

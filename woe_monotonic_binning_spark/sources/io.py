"""Generic sources and sinks: parquet / ORC / CSV / JSON, partitioned and
bucketed layouts.

The reference has no file I/O at all (SURVEY.md section 2: "file
sources/sinks — none"); this module is the engine's ingestion/egress
surface, designed around what survives 100 TB:

- **parquet/ORC** are the scale formats: columnar, splittable, predicate
  pushdown and column pruning reach the scan (asserted in
  tests/test_plans.py).  CSV/JSON are interchange formats — schema must be
  supplied (inference is a full extra pass) and nothing pushes down; both
  facts are encoded here, not left to callers to discover.
- **Partitioned writes** give hive-style partition pruning: a reader
  filtering on the partition column touches only matching directories.
  Choose low-cardinality columns; a high-cardinality partition key means
  millions of tiny files (the classic small-files failure).
- **Bucketed writes** (saveAsTable) pre-shuffle by key at write time so
  later joins/aggregations on that key skip their Exchange entirely —
  the write-once-join-many trade.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMATS = ("parquet", "orc", "csv", "json")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    """Read ``path`` in any supported format.

    For CSV/JSON a ``schema`` should be passed: without it Spark runs a
    whole-file inference pass before the real job (twice the IO at scale).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {_FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        return reader.option("header", header).option(
            "inferSchema", schema is None
        ).csv(path)
    if fmt == "json":
        return reader.json(path)
    return getattr(reader, fmt)(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    compression: str | None = None,
    header: bool = True,
) -> None:
    """Write ``df`` to ``path``; ``partition_by`` produces a hive-style
    directory layout that later scans prune on."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {_FORMATS}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression is not None:
        writer = writer.option("compression", compression)
    if fmt == "csv":
        writer = writer.option("header", header)
    getattr(writer, fmt)(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table: rows are hash-partitioned into
    ``num_buckets`` files by ``bucket_cols`` at write time, so a later join
    or aggregation on those columns needs NO shuffle — Catalyst sees the
    bucketing spec and drops the Exchange.  Requires ``saveAsTable`` (plain
    path writes cannot carry bucket metadata)."""
    writer = df.write.mode(mode).format(fmt).bucketBy(int(num_buckets), *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def _describe(spark: SparkSession, table_name: str) -> dict[str, str]:
    """``DESCRIBE FORMATTED`` rows as ``{name: value}``."""
    return {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
    }


def bucket_spec(
    spark: SparkSession, table_name: str
) -> tuple[int, list[str], list[str]]:
    """(num_buckets, bucket_cols, sort_cols) of a bucketed table, read back
    from the catalog — so maintenance helpers (compaction) can preserve a
    table's layout without the caller re-stating it."""
    info = _describe(spark, table_name)
    if "Num Buckets" not in info:
        raise ValueError(f"{table_name!r} is not a bucketed table")

    def _cols(key: str) -> list[str]:
        raw = info.get(key, "[]").strip("[]")
        return [c.strip(" `") for c in raw.split(",") if c.strip(" `")]

    return int(info["Num Buckets"]), _cols("Bucket Columns"), _cols("Sort Columns")


def compact_bucketed_table(
    spark: SparkSession,
    table_name: str,
    distinct: bool = False,
    fmt: str | None = None,
) -> None:
    """Rewrite a bucketed table down to ONE file per bucket (optionally
    dropping duplicate rows), preserving its bucket/sort spec.

    Append-heavy bucketed tables (e.g. a streaming digest store appending
    ``num_buckets`` files per micro-batch) accumulate small files without
    bound — every later scan pays the listing, and Spark only trusts a
    bucketed table's ``sortBy`` order when each bucket holds a single
    file, so appends also re-introduce per-batch Sort nodes in merge
    joins.  Compaction restores both: bounded file count and sort-free
    bucket-local joins.  The repartition on the bucket columns is the one
    shuffle this maintenance pass pays (narrow rows — for a digest store,
    32-byte digests), and it is what makes each writing task hold exactly
    one bucket (Spark's bucket id and ``repartition``'s hash partitioning
    use the same Murmur3 function), so the output is exactly one file per
    bucket.

    Implementation: write to a staging table, then DROP + RENAME — the
    source table is never read and overwritten in the same plan.  Not
    transactional (a crash between DROP and RENAME loses the name, though
    the staging data survives); a production deployment on Delta/Iceberg
    gets real OPTIMIZE/compaction transactions instead.

    ``fmt=None`` (default) reads the table's own catalog Provider, so
    compacting an ORC table cannot silently rewrite it as parquet
    (round-8 review); pass an explicit format only to convert."""
    n, bucket_cols, sort_cols = bucket_spec(spark, table_name)
    if fmt is None:
        provider = _describe(spark, table_name).get("Provider", "").lower()
        if not provider:
            # A table with no Provider row (e.g. Hive-serde) would fall
            # back to parquet and silently convert the table's format —
            # the exact defect the catalog lookup exists to prevent.
            raise ValueError(
                f"{table_name!r} has no Provider in DESCRIBE FORMATTED "
                "(Hive-serde table?); pass fmt= explicitly to compact it"
            )
        fmt = provider
    df = spark.table(table_name)
    if distinct:
        df = df.distinct()
    staging = f"{table_name}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    write_bucketed_table(
        df.repartition(n, *[df[c] for c in bucket_cols]),
        staging, bucket_cols, n, sort_cols, fmt=fmt,
    )
    spark.sql(f"DROP TABLE {table_name}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 16):
    """Z-order (Morton) key column over ``cols``: per-column min/max scaling
    to ``bits``-bit integers, then bit interleaving — all JVM-side HOFs.

    One small stats aggregation runs eagerly to get the scaling ranges (a
    write-time cost, amortised over every pruned read).  NULLs map to the
    column minimum so they cluster together at the low end.

    ``bits`` is auto-reduced so the interleaved key fits in the 63
    non-sign bits of a BIGINT: with the old fixed 16 bits, 4 columns put a
    bit in position 63 (the sign bit — high 4th-column values produced
    NEGATIVE keys that ``repartitionByRange`` sorted FIRST, silently
    destroying the clustered layout) and 5+ columns wrapped shifts mod 64.
    ``bits_used = min(bits, 63 // len(cols))``; precision per dimension
    drops as dimensions are added — the standard Z-order trade.  Pinned by
    tests/test_sources.py::test_zorder_four_columns_key_nonnegative.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    bits = min(int(bits), 63 // len(cols))
    if bits < 1:
        raise ValueError(
            f"zorder_key: {len(cols)} columns cannot share the 63 value bits "
            "of a BIGINT key (max 63 columns)"
        )
    hi = (1 << bits) - 1
    # NaNs are excluded from the range stats (Spark's max sorts NaN above
    # everything — a single NaN made mx=NaN, whose repr interpolates into
    # the SQL below as the bare identifier `nan` and the write died with
    # UNRESOLVED_COLUMN; round-8 review) and NaN values cluster with the
    # NULLs at the column minimum.
    nv = lambda c: f"nanvl(cast(`{c}` as double), cast(NULL as double))"  # noqa: E731
    stats = df.agg(
        *[F.min(F.expr(nv(c))).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.expr(nv(c))).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    k = len(cols)
    parts: list[str] = []
    import math as _math

    for j, c in enumerate(cols):
        mn, mx = stats[f"mn_{j}"], stats[f"mx_{j}"]
        if mn is None:  # all-null column contributes nothing to the key
            continue
        if not (_math.isfinite(mn) and _math.isfinite(mx)):
            raise ValueError(
                f"zorder_key: column {c!r} has a non-finite range "
                f"({mn}, {mx}); filter or clip infinities before clustering"
            )
        span = (mx - mn) or 1.0
        scaled = (
            f"cast(greatest(0L, least({hi}L, floor("
            f"(coalesce({nv(c)}, {mn!r}) - {mn!r}) / {span!r} * {hi}"
            f"))) as bigint)"
        )
        # spread bit i of dimension j to position i*k + j of the key
        parts.append(
            f"aggregate(sequence(0, {bits - 1}), 0L, "
            f"(acc, i) -> acc | ((({scaled} >> i) & 1L) << (i * {k} + {j})))"
        )
    return F.expr(" | ".join(parts)) if parts else F.lit(0).cast("bigint")


def write_clustered_table(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    layout: str = "range",
    num_files: int | None = None,
    bits: int = 16,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write with value clustering so parquet min/max (row-group/file) stats
    prune later scans — the data-skipping complement to hive partitioning
    (which only works for low-cardinality columns).

    - ``layout="range"``: ``repartitionByRange`` + in-partition sort on
      ``cluster_cols``; files carry near-disjoint value ranges — optimal
      skipping for filters on the leading column.
    - ``layout="zorder"``: cluster on a Morton-interleaved key so *every*
      clustered column gets bounded per-file ranges — the multi-dimensional
      trade (each dimension's per-file span shrinks by ~2^(bits_used/k)
      rather than one column getting everything).

    At 100 TB the repartition is a full shuffle — same cost any clustered
    write pays (Delta/Iceberg OPTIMIZE ZORDER does the identical thing);
    it buys every subsequent selective scan a file-level prune.
    """
    if layout not in ("range", "zorder"):
        raise ValueError(f"layout must be 'range' or 'zorder', got {layout!r}")
    n = int(num_files or df.sparkSession.sparkContext.defaultParallelism)
    if layout == "range":
        out = df.repartitionByRange(n, *cluster_cols).sortWithinPartitions(*cluster_cols)
    else:
        zkey = zorder_key(df, cluster_cols, bits)
        out = (
            df.withColumn("__zkey", zkey)
            .repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    write_table(out, path, fmt=fmt, mode=mode)


def write_training_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    partition_by: Sequence[str] | None = None,
    num_tasks: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write training sequences as size-bounded shards: no output file
    exceeds ``max_records_per_file`` rows — the contract a data-loader
    fleet wants (shards stream independently, resume at file granularity,
    and one shard fits one loader worker's memory).

    ``maxRecordsPerFile`` makes the WRITER roll files at the bound, which
    is the correct mechanism at scale: a row-count repartition would need
    a global count + range shuffle, while rolling is free and local to
    each task.  The row-count bound therefore caps file SIZE variance
    only per task — combine with ``num_tasks`` (a round-robin
    ``repartition``, one shuffle) when upstream partitioning is skewed
    and shard-size uniformity matters more than the shuffle.
    ``partition_by`` (e.g. ``["split"]``) composes: the standard
    train/test shard tree in one pass."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {_FORMATS}")
    if max_records_per_file <= 0:
        raise ValueError(
            f"max_records_per_file must be positive, got {max_records_per_file}"
        )
    out = df.repartition(int(num_tasks)) if num_tasks else df
    writer = out.write.mode(mode).option(
        "maxRecordsPerFile", int(max_records_per_file)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)


def save_bins(bins: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a fitted bins table (the model artifact) as parquet,
    partitioned by variable so per-variable loads prune to one directory."""
    bins.write.mode(mode).partitionBy("variable").parquet(path)


def load_bins(spark: SparkSession, path: str) -> DataFrame:
    """Reload a bins table saved by :func:`save_bins` with the canonical
    column order (partition columns come back last otherwise)."""
    from ..fit import BINS_SCHEMA_DDL

    cols = [c.split()[0] for c in BINS_SCHEMA_DDL.split(", ")]
    return spark.read.parquet(path).select(*cols)

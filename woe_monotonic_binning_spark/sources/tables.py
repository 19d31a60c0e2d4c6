"""Parquet table loaders for the driver test data.

``spark.read.parquet`` is the default path (full pushdown/pruning).  One
wrinkle: the driver's ``events`` table stores ``TIMESTAMP(NANOS)``, which
Spark's parquet reader rejects outright ([PARQUET_TYPE_ILLEGAL]) while
DuckDB reads it natively.  ``load_table`` detects nanosecond timestamp
columns from the parquet footer and reads them via
``spark.sql.legacy.parquet.nanosAsLong`` (ns stored as LongType), then
rebuilds the timestamp JVM-side with ``timestamp_micros(col div 1000)`` —
a fully distributed scan that keeps predicate pushdown and column pruning
on every other column, and never routes data through the driver.  The
``div 1000`` truncation matches the Arrow ``safe=False`` ns->us downcast
for post-epoch values (the generator writes microsecond-precision values
into the ns type, so it is lossless here; documented deviation vs the
ns-native DuckDB oracle).

If the conf turns out to be static in some deployment (it is runtime-
settable on Spark 3.4-4.x), the Arrow driver-side load remains as a
fallback.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _nanos_fields(path: str) -> list[str]:
    if os.path.isdir(path):
        # Spark-written table: a DIRECTORY of part files (the driver's
        # testdata ships single files, but any regenerated/scaled dataset
        # is a directory) — read the schema from the first part file
        parts = sorted(
            p
            for p in os.listdir(path)
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def _cast_ns_to_us(table: "pa.Table") -> "pa.Table":
    """The shared Arrow ns->us schema rewrite (one definition so the
    load_table fallback and microsecond_parquet_copy cannot drift —
    round-8 review).  safe=False truncates sub-microsecond digits, the
    same loss as the fast path's ``div 1000``."""
    fields = [
        pa.field(f.name, pa.timestamp("us"))
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in table.schema
    ]
    return table.cast(pa.schema(fields), safe=False)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table; ns-timestamp tables go through the
    ``nanosAsLong`` path described in the module docstring.

    NOTE: that path sets ``spark.sql.legacy.parquet.nanosAsLong`` for the
    SESSION and deliberately leaves it set — the returned DataFrame is
    lazy, and its executing tasks re-consult the conf, so restoring it
    here would make the scan fail later with PARQUET_TYPE_ILLEGAL.  The
    visible side effect: other ns-parquet reads in the session also get
    long-typed nanos instead of the loud error (round-8 review —
    documented trade; the fallback branch DOES restore the conf since its
    result is driver-materialized)."""
    path = f"{sf_dir}/{name}.parquet"
    nanos = _nanos_fields(path)
    if nanos:
        from pyspark.sql import functions as F

        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            for col in nanos:
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
            return df
        except Exception:
            # conf static / unavailable: driver-side Arrow load fallback —
            # the result is fully materialized, so the conf can be
            # restored without breaking later execution
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
            return spark.createDataFrame(_cast_ns_to_us(pq.read_table(path)))
    return spark.read.parquet(path)


def microsecond_parquet_copy(sf_dir: str, name: str, out_root: str = "/tmp/wmb_us_tables") -> str:
    """One-time normalised (us-timestamp) parquet copy for sources that
    cannot take the Arrow fallback (e.g. Structured Streaming file sources).
    Returns the directory path, creating it only if absent."""
    out_dir = os.path.join(
        out_root, sf_dir.strip("/").replace("/", "_"), name
    )
    marker = os.path.join(out_dir, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            _cast_ns_to_us(pq.read_table(f"{sf_dir}/{name}.parquet")),
            os.path.join(out_dir, "part-0.parquet"),
        )
        open(marker, "w").close()
    return out_dir


"""The one Arrow row runner behind every per-payload kernel.

Decoders, probes and archive walks are pure functions of a few input
columns per row: a payload in, zero or more typed rows out.  They all
cross into Python the same way — one ``mapInArrow`` over the selected
columns — so the batch loop, the output schema and the conversion back to
Arrow live here once instead of once per kernel.  Values go straight
between Arrow and Python objects (no pandas frame in between), so an
integer column holding a NULL stays exact instead of widening to float64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def map_rows(df: DataFrame, cols, schema: str, row_fn) -> DataFrame:
    """Select ``cols`` (names or Column expressions) from ``df`` and call
    ``row_fn(*values)`` once per row inside one Arrow-batched
    ``mapInArrow``; every tuple ``row_fn`` yields becomes one output row
    typed by the DDL ``schema`` (0..n rows per input row).  Output is
    flushed every ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
    and at the end of each input batch, so a task holds at most one
    input batch and one batch of output rows, even when one input row
    explodes into many (an archive walk).  A tuple of the wrong arity,
    or a value that does not fit its column, fails the task loudly: the
    kernels turn malformed payloads into honest-reject rows first.
    ``row_fn`` ships to the workers inside the closure, so it must be
    picklable there."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))
    session_cap = df.sparkSession.conf.get(batch_key)

    def to_batch(rows):
        return _record_batch(rows, arrow_schema)

    def run(batches):
        from pyspark import TaskContext

        # a SQL conf set on the session reaches the task as a local
        # property of the running query; unset, the default read above
        cap = int(TaskContext.get().getLocalProperty(batch_key) or session_cap)
        for batch in batches:
            rows = []
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for out in row_fn(*values):
                    rows.append(out)
                    if len(rows) == cap:  # cap <= 0: no limit, as in Spark
                        yield to_batch(rows)
                        rows = []
            if rows:
                yield to_batch(rows)

    return df.select(*cols).mapInArrow(run, schema)


def local_table(spark, rows, schema: str) -> DataFrame:
    """A DataFrame of the Python tuples ``rows``, typed by the DDL
    ``schema`` and built from an Arrow table, so it plans as a
    ``LocalTableScan``.  ``spark.createDataFrame(<list>)`` plans as a
    Python RDD instead: every read of it runs one Python task per
    default-parallelism slot."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    batch = _record_batch(list(rows), to_arrow_schema(struct))
    return spark.createDataFrame(pa.Table.from_batches([batch]), struct)


def _record_batch(rows, arrow_schema):
    """One Arrow record batch of the tuples ``rows``, typed by ``arrow_schema``."""
    import pyarrow as pa

    columns = list(zip(*rows, strict=True)) or [() for _ in arrow_schema]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema, strict=True)],
        schema=arrow_schema,
    )

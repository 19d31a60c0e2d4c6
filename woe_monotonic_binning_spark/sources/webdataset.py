"""WebDataset-style tar-shard source and sink (round 16).

Large multimodal training corpora ship as TAR SHARDS — thousands of
~100 MB–1 GB ``.tar`` files whose members group into samples by key
(``000123.jpg`` + ``000123.txt`` + ``000123.json`` = one sample; the
key is the basename up to the FIRST dot, the extension everything
after it) — the WebDataset convention (Aizman et al., webdataset.org)
every large image/video training pipeline consumes.  This module maps
it onto Spark's execution model:

- :func:`read_tar_shards` — ``binaryFile`` scan (one task per shard:
  tar is not splittable, but the format's whole design is many
  modest shards, so shard count IS the parallelism) + a stdlib
  ``tarfile`` walk on the shared Arrow row runner (``_rows.map_rows``,
  one ``mapInArrow``).  One output row
  per member: (shard, sample_key, ext, content, n_bytes).  Works
  unchanged under ``spark.readStream`` (binaryFile is a streaming
  source) — new shards landing in a bucket flow through the same
  plan.
- :func:`assemble_samples` — members -> one row per sample with an
  ``ext -> content`` map (one groupBy over (shard, key); member
  payloads shuffle once, exactly like the pack materializer).
- :func:`write_tar_shards` — the egress: one tar per ``shard_col``
  group, members written in ascending key order (byte-deterministic
  output: fixed mtime/uid/gid, USTAR format), executed inside
  ``applyInPandas`` so each shard streams from exactly one task;
  returns the per-shard manifest (path, members, bytes) as a
  DataFrame.  Shard assignment stays the caller's knob —
  ``pmod(xxhash64(key), n)`` for even spread, or a pack/sequence id
  to co-locate curriculum order.

The reference repo (a WOE binning library) has no file I/O at all;
this is beyond-reference pipeline scope like sources/io.py, and the
natural frame around operators/multimodal.py: read shards -> decode /
hash / dedup on the ``content`` column -> re-shard survivors.
"""

from __future__ import annotations

import io
import os
import tarfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .._rows import map_rows

__all__ = [
    "TAR_MEMBER_SCHEMA",
    "read_tar_shards",
    "assemble_samples",
    "write_tar_shards",
]

TAR_MEMBER_SCHEMA = (
    "shard string, sample_key string, ext string, content binary, "
    "n_bytes long"
)

_MANIFEST_SCHEMA = "shard string, path string, n_members long, n_bytes long"


def _split_member_name(name: str) -> tuple[str, str]:
    """WebDataset key split: basename up to the FIRST dot is the sample
    key, the rest is the (possibly dotted: ``seg.cls``) extension."""
    base = name.rsplit("/", 1)[-1]
    if "." in base:
        key, ext = base.split(".", 1)
    else:
        key, ext = base, ""
    return key, ext


def read_tar_shards(
    spark: SparkSession,
    path: str,
    pattern: str = "*.tar",
    stream: bool = False,
) -> DataFrame:
    """One row per tar member under ``path`` (see module docstring for
    the schema and scale shape).  Corrupt or truncated shards raise —
    a training corpus with an unreadable shard is a data-integrity
    incident, not a row to silently drop (the opposite posture from the
    per-PAYLOAD tolerance of the decode kernels, deliberately: there a
    bad member is one sample, here it is a whole shard's worth).
    ``stream=True`` returns the Structured Streaming equivalent."""
    if stream:
        # streaming sources must state their schema up front; binaryFile's
        # is fixed
        reader = spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
    else:
        reader = spark.read.format("binaryFile")
    files = (
        reader.option("pathGlobFilter", pattern)
        .load(path)
        .select(F.col("path").alias("shard"), "content")
    )

    def untar(shard, blob):
        with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
            for m in tf:
                if not m.isfile():
                    continue
                body = tf.extractfile(m).read()
                key, ext = _split_member_name(m.name)
                yield shard, key, ext, body, len(body)

    return map_rows(files, ["shard", "content"], TAR_MEMBER_SCHEMA, untar)


def assemble_samples(members: DataFrame) -> DataFrame:
    """Members -> one row per (shard, sample_key) with ``parts`` =
    ``map<ext, binary>`` and the summed byte count — the shape a
    training collator consumes.  One shuffle on the sample key; a
    duplicate extension inside one sample (two ``x.txt`` entries in a
    shard) raises rather than silently keeping one — map keys must be
    unique and the tar is malformed."""
    dup = (
        members.groupBy("shard", "sample_key", "ext")
        .count()
        .where(F.col("count") > 1)
    )
    checked = members.join(
        dup.select("shard", "sample_key", "ext", F.lit(True).alias("__dup")),
        ["shard", "sample_key", "ext"],
        "left",
    ).withColumn(
        "content",
        F.when(
            F.col("__dup").isNull(), F.col("content")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("duplicate member extension "),
                    F.col("ext"),
                    F.lit(" for sample "),
                    F.col("sample_key"),
                )
            )
        ),
    )
    return (
        checked.groupBy("shard", "sample_key")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("ext"), F.col("content")))
                )
            ).alias("parts"),
            F.sum("n_bytes").alias("n_bytes"),
            F.count("*").alias("n_parts"),
        )
    )


def write_tar_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    key_col: str = "sample_key",
    ext_col: str = "ext",
    content_col: str = "content",
) -> DataFrame:
    """Write one ``<shard>.tar`` per ``shard_col`` group under ``path``
    (a shared filesystem / fuse-mounted object store path reachable
    from every executor), members ordered by (key, ext) with fixed
    metadata (mtime 0, uid/gid 0, USTAR) so the SAME rows always
    produce byte-identical shards — re-runs are idempotent and shard
    diffs are real diffs.  Executes as one ``applyInPandas`` task per
    shard (the exact read-side parallelism in reverse); EAGER — the
    returned manifest (shard, path, n_members, n_bytes) is computed by
    performing the writes.

    Shard ids become filenames, so they must be path-safe; the caller
    picks the sharding (``pmod(xxhash64(key), n)`` spreads evenly —
    n_shards sizes the files, the small-files note on
    ``write_training_shards`` applies here too)."""
    os.makedirs(path, exist_ok=True)
    slim = df.select(
        F.col(shard_col).cast("string").alias("shard"),
        F.col(key_col).cast("string").alias("sample_key"),
        F.col(ext_col).cast("string").alias("ext"),
        F.col(content_col).alias("content"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = str(pdf["shard"].iloc[0])
        if "/" in shard or shard in ("", ".", ".."):
            raise ValueError(f"shard id {shard!r} is not a safe filename")
        pdf = pdf.sort_values(["sample_key", "ext"], kind="mergesort")
        out_path = os.path.join(path, f"{shard}.tar")
        n_bytes = 0
        with tarfile.open(out_path, "w", format=tarfile.USTAR_FORMAT) as tf:
            for _, row in pdf.iterrows():
                body = bytes(row["content"]) if row["content"] is not None \
                    else b""
                name = (
                    f"{row['sample_key']}.{row['ext']}"
                    if row["ext"] else str(row["sample_key"])
                )
                info = tarfile.TarInfo(name=name)
                info.size = len(body)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(body))
                n_bytes += len(body)
        return pd.DataFrame(
            {
                "shard": [shard],
                "path": [out_path],
                "n_members": [len(pdf)],
                "n_bytes": [n_bytes],
            }
        )

    manifest = slim.groupBy("shard").applyInPandas(
        pack, schema=_MANIFEST_SCHEMA
    )
    # eager: the manifest fetch IS the write barrier
    return df.sparkSession.createDataFrame(manifest.toArrow(), _MANIFEST_SCHEMA)

"""Streaming exact dedup vs its batch twin (first-arrival-wins)."""

from __future__ import annotations

import pytest

from tests.fixtures import reset_store_tables
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.streaming.dedup import (
    streaming_exact_dedup,
    streaming_exact_dedup_unbounded,
)
from woe_monotonic_binning_spark.streaming.events import run_available_now

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dup_stream_path(spark, tmp_path_factory):
    """Events with planted duplicates: every event_id < 200 appears twice
    (the copy arrives one minute later), staged as a parquet stream dir."""
    from woe_monotonic_binning_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dups = ev.filter(F.col("event_id") < 200).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")
    )
    path = str(tmp_path_factory.mktemp("dedup_stream") / "events")
    ev.unionByName(dups).repartition(4).write.parquet(path)
    return path


def _table_files(spark, table):
    """Data files of a managed table in the session warehouse."""
    import glob

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return glob.glob(f"{warehouse}/{table}/*.parquet")


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def test_streaming_dedup_within_watermark_drops_planted_dups(spark, dup_stream_path):
    """Every planted copy arrives 1 minute after its original — inside the
    watermark horizon — so the deduped stream must contain each event_id
    exactly once, and exactly the batch-distinct id set.  The horizon is
    set beyond the table's full time span because the staged files are NOT
    time-ordered: with a short horizon the first micro-batch advances the
    watermark near the global max and later files' rows would be dropped as
    LATE (an ingest-ordering concern, not a dedup one — the horizon
    semantics themselves are pinned by test_streaming_dedup_reemits_after_horizon)."""
    out = run_available_now(
        streaming_exact_dedup(
            _stream(spark, dup_stream_path), ["event_id"], watermark="365 days"
        ),
        "t_dedup_wm",
        output_mode="append",
    ).cache()
    batch_ids = spark.read.parquet(dup_stream_path).select("event_id").distinct()
    assert out.count() == batch_ids.count()
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    assert out.select("event_id").subtract(batch_ids).count() == 0
    assert batch_ids.subtract(out.select("event_id")).count() == 0


def test_streaming_dedup_unbounded_matches_batch(spark, dup_stream_path):
    out = run_available_now(
        streaming_exact_dedup_unbounded(_stream(spark, dup_stream_path), ["event_id"]),
        "t_dedup_unb",
        output_mode="append",
    )
    batch = spark.read.parquet(dup_stream_path).dropDuplicates(["event_id"])
    assert out.count() == batch.count()
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_streaming_dedup_reemits_after_horizon(spark, tmp_path):
    """The bounded-state contract: a duplicate arriving AFTER the watermark
    horizon is re-emitted (its key's state was evicted).  File A holds the
    original, file B (written later, so processed in a later micro-batch by
    the mtime-ordered file source) holds a copy 2 hours later — beyond the
    1-hour horizon — plus an in-horizon copy that must still be dropped."""
    import time as _time

    path = str(tmp_path / "horizon")
    batches = [
        # batch 0: originals (keys 1, 2 at 00:00; state expiry 01:00)
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")],
        # batch 1: in-horizon copy of 2 (dropped against live state) + a
        # fresh 03:00 event that advances the watermark to 02:00 for the
        # NEXT batch
        [(2, "2024-01-01 00:30:00"), (9, "2024-01-01 03:00:00")],
        # batch 2: filler — runs WITH watermark 02:00, whose end-of-batch
        # state cleanup evicts keys 1 and 2 (expiry 01:00 < 02:00); eviction
        # only takes effect for batches after the one that carried the
        # watermark, hence this intermediate batch
        [(8, "2024-01-01 03:10:00")],
        # batch 3: copy of 1 at 02:30 — not late (>= 02:10 watermark) and
        # its key state is gone => re-emitted
        [(1, "2024-01-01 02:30:00")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "event_id long, ts string").coalesce(
            1
        ).write.mode("append").parquet(path)
        _time.sleep(2)  # distinct mtime => deterministic micro-batch order

    out = run_available_now(
        streaming_exact_dedup(
            _stream(spark, path), ["event_id"], watermark="1 hour"
        ),
        "t_dedup_horizon",
        output_mode="append",
    )
    counts = {r.event_id: r.n for r in out.groupBy("event_id").agg(F.count("*").alias("n")).collect()}
    assert counts[1] == 2, counts  # beyond-horizon copy re-emitted
    assert counts[2] == 1, counts  # in-horizon copy dropped
    assert counts[9] == 1 and counts[8] == 1, counts


def test_streaming_dedup_stays_jvm_side(spark, dup_stream_path):
    """The dedup stream must add NO Python boundary — state handling is the
    built-in watermark store, the plan is pure JVM."""
    from woe_monotonic_binning_spark.plans import python_eval_count

    schema = spark.read.parquet(dup_stream_path).schema
    # batch-plan probe of the same expression shape (streaming plans cannot
    # be explained pre-start): cast + watermark column exprs only
    probe = spark.read.parquet(dup_stream_path).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).dropDuplicates(["event_id"])
    assert python_eval_count(probe) == 0
    assert len(schema) > 0


# ---------------------------------------------------------------------------
# streaming_dedup_against_store (persistent digest-store dedup)


def test_streaming_dedup_against_store_cross_batch_and_restart(spark, tmp_path):
    """Cross-batch dups drop via the store (maxFilesPerTrigger=1 forces the
    copies into separate micro-batches), and — the property in-memory state
    cannot give — a brand-new QUERY over a later crawl still dedups against
    everything the first query ingested."""
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_dedup_against_store,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")

    spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)  # distinct mtimes -> deterministic file->batch order
    spark.createDataFrame(
        [(2, "beta text"), (3, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = streaming_dedup_against_store(
        stream, store, out, checkpoint_dir=str(tmp_path / "ckpt1")
    )
    q.awaitTermination()

    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {0, 1, 3}  # doc 2 is a cross-batch copy of doc 1
    assert spark.read.parquet(store).distinct().count() == 3

    # second, independent query over a later crawl: the store remembers
    src2 = tmp_path / "src2"
    spark.createDataFrame(
        [(10, "alpha text"), (11, "delta text"), (12, "delta text")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src2))
    stream2 = spark.readStream.schema(schema).parquet(str(src2))
    q2 = streaming_dedup_against_store(
        stream2, store, out, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()

    kept2 = {r.doc_id for r in spark.read.parquet(out).collect()}
    # 10 dups the stored 'alpha text'; 12 dups 11 within the batch (min id kept)
    assert kept2 == {0, 1, 3, 11}
    assert spark.read.parquet(store).distinct().count() == 4


# ---------------------------------------------------------------------------
# streaming_dedup_against_bucketed_store (the at-scale digest store)


def test_streaming_dedup_against_bucketed_store_cross_batch_and_restart(
    spark, tmp_path
):
    """Same semantics as the flat-store twin — cross-batch dups drop, a new
    query over a later crawl dedups against everything ingested — with the
    store held as a digest-bucketed managed table."""
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_dedup_against_bucketed_store,
    )

    table = "wmb_test_digest_store"
    reset_store_tables(spark, f"{table}")
    try:
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        spark.createDataFrame(
            [(0, "alpha text"), (1, "beta text")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))
        _time.sleep(1.1)
        spark.createDataFrame(
            [(2, "beta text"), (3, "gamma text")], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(src))

        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_dedup_against_bucketed_store(
            stream, table, out, checkpoint_dir=str(tmp_path / "ckpt1"), num_buckets=4
        )
        q.awaitTermination()
        kept = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert kept == {0, 1, 3}
        assert spark.table(table).distinct().count() == 3

        src2 = tmp_path / "src2"
        spark.createDataFrame(
            [(10, "alpha text"), (11, "delta text"), (12, "delta text")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(str(src2))
        stream2 = spark.readStream.schema(schema).parquet(str(src2))
        q2 = streaming_dedup_against_bucketed_store(
            stream2, table, out, checkpoint_dir=str(tmp_path / "ckpt2"), num_buckets=4
        )
        q2.awaitTermination()
        kept2 = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert kept2 == {0, 1, 3, 11}
        # the stream's appends happened in foreachBatch's CLONED session;
        # this session read the table above, so refresh its relation cache
        # (documented caveat on streaming_dedup_against_bucketed_store)
        spark.catalog.refreshTable(table)
        assert spark.table(table).distinct().count() == 4
    finally:
        reset_store_tables(spark, f"{table}")


def test_bucketed_store_anti_join_does_not_shuffle_store(spark, tmp_path):
    """The scale contract that de-weakens the store path: the per-batch
    anti-join's plan carries an Exchange ONLY on the batch side — the
    store's bucketing satisfies the join's distribution requirement, so
    the accumulated digests are read bucket-local.  The flat-parquet
    store pays a second Exchange (the store side re-shuffled every
    batch), asserted here as the contrast."""
    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.plans import exchange_count
    from woe_monotonic_binning_spark.sources.io import write_bucketed_table

    table = "wmb_test_digest_store_plan"
    reset_store_tables(spark, f"{table}")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.createDataFrame(
            [(i, f"doc number {i} body") for i in range(200)],
            "doc_id long, text string",
        )
        digests = docs.select(
            F.sha2(F.col("text").cast("binary"), 256).alias("digest")
        )
        write_bucketed_table(
            digests, table, ["digest"], 4, sort_cols=["digest"], mode="overwrite"
        )
        batch = spark.createDataFrame(
            [(1000, "doc number 3 body"), (1001, "fresh body")],
            "doc_id long, text string",
        ).withColumn("__digest", F.sha2(F.col("text").cast("binary"), 256))

        bucketed_ref = spark.table(table).select(F.col("digest").alias("__digest"))
        anti_bucketed = batch.join(bucketed_ref, "__digest", "left_anti")
        assert exchange_count(anti_bucketed) == 1  # batch side only

        flat_path = str(tmp_path / "flat_digests")
        digests.write.parquet(flat_path)
        flat_ref = spark.read.parquet(flat_path).select(
            F.col("digest").alias("__digest")
        )
        anti_flat = batch.join(flat_ref, "__digest", "left_anti")
        assert exchange_count(anti_flat) == 2  # flat store re-shuffled too

        # and the bucket-local join computes the same answer
        kept = {r.doc_id for r in anti_bucketed.collect()}
        assert kept == {1001}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        reset_store_tables(spark, f"{table}")


def _near_dup_corpus():
    """Corpus with planted exact + near (hamming<=3) duplicates, isolated
    pairs (no cross-pair chains, so greedy first-arrival == batch min-id)."""
    base = " ".join(f"token{i} alpha beta gamma" for i in range(15))
    text_a = "document about rivers " + base
    text_b = "entirely different subject matter " + " ".join(
        f"word{i} delta epsilon" for i in range(15)
    )
    text_c = "short unique note on astronomy stars planets comets " + " ".join(
        f"sky{i}" for i in range(10)
    )
    text_d = "recipe for bread flour water salt yeast " + " ".join(
        f"step{i} knead rest bake" for i in range(12)
    )
    batch1 = [
        (0, text_a),
        (1, text_b),
        (2, text_a.replace("token7", "token7x")),  # near-dup of 0, in-batch
        (3, text_c),
    ]
    batch2 = [
        (10, text_a),                               # exact copy of stored 0
        (11, text_b.replace("word3", "word3z")),    # near-dup of stored 1
        (12, text_d),                               # genuinely new
        (13, text_d.replace("step5", "step5q")),    # near-dup of 12, in-batch
    ]
    return batch1, batch2


def test_streaming_simhash_dedup_drops_near_dups_across_batches(spark, tmp_path):
    """Near-duplicates (not just exact copies) drop at ingest: in-batch
    via the batch pigeonhole self-join, cross-batch via the persistent
    band-posting store; survivors match the batch operator's keep set.
    The fixture's pair structure is asserted against the BATCH operator
    first, so a fixture drift fails loudly there, not here."""
    import time as _time

    from woe_monotonic_binning_spark.operators.dedup import simhash_near_pairs
    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_simhash_dedup_against_store,
    )

    batch1, batch2 = _near_dup_corpus()
    all_rows = spark.createDataFrame(batch1 + batch2, "doc_id long, text string")
    got_pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_pairs(all_rows, "text", "doc_id").collect()
    }
    assert got_pairs == {(0, 2), (0, 10), (2, 10), (1, 11), (12, 13)}

    table = "wmb_test_simhash_store"
    reset_store_tables(spark, f"{table}")
    try:
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        for rows in (batch1, batch2):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_simhash_dedup_against_store(
            stream, table, out, checkpoint_dir=str(tmp_path / "ckpt"), num_buckets=4
        )
        q.awaitTermination()
        kept = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert kept == {0, 1, 3, 12}
        # two appends of at most one file per bucket each
        assert len(_table_files(spark, table)) <= 2 * 4
        # the store carries exactly the survivors' postings: 4 bands each
        spark.catalog.refreshTable(table)
        store = spark.table(table)
        assert {r.doc_id for r in store.select("doc_id").distinct().collect()} == kept
        assert store.count() == 4 * len(kept)
        # compaction round-trips the multi-column bucket spec and the
        # array-typed sim_bands column through its distinct
        from woe_monotonic_binning_spark.sources.io import (
            bucket_spec,
            compact_bucketed_table,
        )

        compact_bucketed_table(spark, table, distinct=True)
        nb, bcols, scols = bucket_spec(spark, table)
        assert (nb, bcols, scols) == (4, ["band", "bh"], ["band", "bh"])
        assert spark.table(table).count() == 4 * len(kept)
        # incremental bucket-cap side table (round-7 verdict #6): the
        # per-batch updates must land exactly where a full count_distinct
        # recompute of the posting store would — without the per-batch
        # full-store aggregation the old plan paid
        from pyspark.sql import functions as F

        caps = spark.table(f"{table}_caps")
        recomputed = spark.table(table).groupBy("band", "bh").agg(
            F.count_distinct("doc_id").alias("n"),
            F.min("doc_id").alias("rep_id"),
        )
        assert sorted(
            map(tuple, caps.select("band", "bh", "n", "rep_id").collect())
        ) == sorted(map(tuple, recomputed.collect()))
    finally:
        reset_store_tables(spark, f"{table}")
        reset_store_tables(spark, f"{table}_caps")
        reset_store_tables(spark, f"{table}__compact")


def test_simhash_store_probe_join_does_not_shuffle_store(spark, tmp_path):
    """The cross-batch probe joins on (band, bh) and the store is bucketed
    on exactly those columns, so the store side carries no Exchange (a
    bucket spec on a strict SUBSET of the join keys is rejected by
    Spark's co-partitioning check and the bucketed scan disabled —
    verified live while building this)."""
    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.operators.dedup import simhash_fingerprints
    from woe_monotonic_binning_spark.plans import exchange_count

    table = "wmb_test_simhash_store_plan"
    reset_store_tables(spark, f"{table}")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch1, batch2 = _near_dup_corpus()
        docs = spark.createDataFrame(batch1, "doc_id long, text string")
        fp = simhash_fingerprints(docs, "text", "doc_id")
        postings = fp.select(
            "doc_id", "sim_bands", F.posexplode("sim_bands").alias("band", "bh")
        )
        (
            postings.repartition(4, "band", "bh")
            .write.format("parquet")
            .bucketBy(4, "band", "bh")
            .sortBy("band", "bh")
            .saveAsTable(table)
        )
        probe = simhash_fingerprints(
            spark.createDataFrame(batch2, "doc_id long, text string"),
            "text",
            "doc_id",
        ).select("doc_id", "sim_bands", F.posexplode("sim_bands").alias("band", "bh"))
        stored = spark.table(table).select(
            "band", "bh", F.col("sim_bands").alias("__stored_bands")
        )
        joined = probe.join(stored, ["band", "bh"])
        assert exchange_count(joined) == 1  # probe side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        reset_store_tables(spark, f"{table}")


def _srp_stream_corpus():
    """Two micro-batches of 6-dim embeddings with deterministic near-dup
    structure: scaled copies have cosine exactly 1.0 AND identical SRP
    band signatures (sign(dot(c*v, h)) == sign(dot(v, h)) for c > 0), so
    every planted dup collides in every band — no probabilistic recall in
    the assertion."""
    b1 = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0]),
    ]
    b2 = [
        (10, [2.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # cross-batch dup of 0
        (11, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0]),  # new
        (12, [0.0, 0.0, 0.0, 0.0, 1.0, 0.0]),  # in-batch pair with 13
        (13, [0.0, 0.0, 0.0, 0.0, 3.0, 0.0]),  # dropped within batch
    ]
    return b1, b2


def test_streaming_srp_dedup_drops_embedding_near_dups_across_batches(
    spark, tmp_path
):
    """Paraphrase-level (embedding-space) dups drop at ingest: in-batch
    via srp_threshold_pairs + canonical keep, cross-batch via the
    persistent SRP posting/vector store; a full re-ingest under a fresh
    checkpoint self-matches everything and adds no survivors."""
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_srp_dedup_against_store,
    )

    table = "wmb_test_srp_store"
    for suffix in ("_postings", "_vecs", "_caps"):
        reset_store_tables(spark, f"{table}{suffix}")
    try:
        b1, b2 = _srp_stream_corpus()
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        for rows in (b1, b2):
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).coalesce(1).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema

        def start(ckpt):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            return streaming_srp_dedup_against_store(
                stream, table, out,
                checkpoint_dir=str(tmp_path / ckpt), num_buckets=4,
            )

        start("ckpt").awaitTermination()
        kept = {r.vec_id for r in spark.read.parquet(out).collect()}
        assert kept == {0, 1, 3, 11, 12}
        # two appends of at most one file per bucket each, per store table
        for suffix in ("_postings", "_vecs"):
            assert len(_table_files(spark, f"{table}{suffix}")) <= 2 * 4
        for suffix in ("_postings", "_vecs", "_caps"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        post = spark.table(f"{table}_postings")
        vecs = spark.table(f"{table}_vecs")
        # every survivor posts exactly n_bands=8 tuples and ONE vector row
        assert {r.vec_id for r in post.select("vec_id").distinct().collect()} == kept
        assert post.count() == 8 * len(kept)
        assert vecs.count() == len(kept)
        # caps side table == a full recompute of the posting store
        caps = spark.table(f"{table}_caps")
        recomputed = post.groupBy("band_idx", "band_val").agg(
            F.count_distinct("vec_id").alias("n"),
            F.min("vec_id").alias("rep_id"),
        )
        assert sorted(
            map(tuple, caps.select("band_idx", "band_val", "n", "rep_id").collect())
        ) == sorted(map(tuple, recomputed.collect()))

        # full re-ingest, fresh checkpoint lineage: every row self-matches
        # at cosine 1.0 against its own stored vector -> zero new
        # survivors, stores unchanged
        start("ckpt2").awaitTermination()
        for suffix in ("_postings", "_vecs"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == kept
        assert spark.table(f"{table}_vecs").count() == len(kept)
        assert spark.table(f"{table}_postings").count() == 8 * len(kept)
    finally:
        for suffix in ("_postings", "_vecs", "_caps"):
            reset_store_tables(spark, f"{table}{suffix}")


def test_srp_store_probe_join_does_not_shuffle_store(spark, tmp_path):
    """The cross-batch probe joins on (band_idx, band_val) and the posting
    store is bucketed on exactly those columns — store side carries no
    Exchange; and the vector re-join store is bucketed on the id key with
    the same property."""
    from woe_monotonic_binning_spark.operators.similarity import (
        _srp_bands,
        srp_hyperplanes,
    )
    from woe_monotonic_binning_spark.plans import exchange_count

    table = "wmb_test_srp_store_plan"
    reset_store_tables(spark, f"{table}")
    reset_store_tables(spark, f"{table}_vecs")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b1, b2 = _srp_stream_corpus()
        planes = srp_hyperplanes(6, 128, 42)
        df1 = spark.createDataFrame(b1, "vec_id long, embedding array<double>")
        bands1 = _srp_bands(
            df1, planes, 8, "embedding", "vec_id", "vec_id", "__vec", "__n"
        )
        (
            bands1.select("vec_id", "band_idx", "band_val")
            .repartition(4, "band_idx", "band_val")
            .write.format("parquet")
            .bucketBy(4, "band_idx", "band_val")
            .sortBy("band_idx", "band_val")
            .saveAsTable(table)
        )
        (
            bands1.select(
                "vec_id", F.col("__vec").alias("embedding"), F.col("__n").alias("__norm")
            )
            .dropDuplicates(["vec_id"])
            .repartition(4, "vec_id")
            .write.format("parquet")
            .bucketBy(4, "vec_id")
            .sortBy("vec_id")
            .saveAsTable(f"{table}_vecs")
        )
        df2 = spark.createDataFrame(b2, "vec_id long, embedding array<double>")
        probe = _srp_bands(
            df2, planes, 8, "embedding", "vec_id", "vec_id", "__vec", "__n"
        ).select("vec_id", "band_idx", "band_val")
        stored = spark.table(table).select(
            "band_idx", "band_val", F.col("vec_id").alias("__sid")
        )
        joined = probe.join(stored, ["band_idx", "band_val"])
        assert exchange_count(joined) == 1  # probe side only
        cand = joined.select("vec_id", "__sid").distinct()
        rejoin = cand.join(
            spark.table(f"{table}_vecs").select(
                F.col("vec_id").alias("__sid"), "embedding", "__norm"
            ),
            "__sid",
        )
        # distinct exchange + candidate-side re-exchange on __sid; the
        # bucketed vector store itself contributes none
        base = exchange_count(cand)
        assert exchange_count(rejoin) == base + 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        reset_store_tables(spark, f"{table}")
        reset_store_tables(spark, f"{table}_vecs")


def test_compact_digest_store_roundtrip(spark, tmp_path):
    """Compaction bounds the append-driven file growth: after appends the
    store holds many files and duplicate digests; compact_digest_store
    rewrites it to one file per bucket, distinct digests, same bucket
    spec, and the table still answers the anti-join bucket-locally."""
    import glob
    import time as _time

    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.plans import exchange_count
    from woe_monotonic_binning_spark.sources.io import bucket_spec
    from woe_monotonic_binning_spark.streaming.dedup import (
        compact_digest_store,
        streaming_dedup_against_bucketed_store,
    )

    table = "wmb_test_digest_store_compact"
    reset_store_tables(spark, f"{table}")
    reset_store_tables(spark, f"{table}__compact")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        src = tmp_path / "src"
        for b in range(3):  # 3 micro-batches -> 3 bucketed appends
            spark.createDataFrame(
                [(b * 10 + i, f"text number {b * 10 + i}") for i in range(5)],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_dedup_against_bucketed_store(
            stream,
            table,
            str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_buckets=4,
        )
        q.awaitTermination()

        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        files_before = glob.glob(f"{warehouse}/{table}/*.parquet")
        n_rows = spark.table(table).count()
        n_distinct = spark.table(table).distinct().count()
        assert len(files_before) > 4  # per-batch appends accumulated
        # each append writes at most one file per bucket
        assert len(files_before) <= 3 * 4

        compact_digest_store(spark, table)

        files_after = glob.glob(f"{warehouse}/{table}/*.parquet")
        assert len(files_after) <= 4  # one file per bucket
        assert spark.table(table).count() == n_distinct <= n_rows
        nb, bcols, scols = bucket_spec(spark, table)
        assert (nb, bcols, scols) == (4, ["digest"], ["digest"])
        # still bucket-local under the anti-join after the rewrite
        batch = spark.createDataFrame(
            [(99, "text number 0")], "doc_id long, text string"
        ).withColumn("__digest", F.sha2(F.col("text").cast("binary"), 256))
        ref = spark.table(table).select(F.col("digest").alias("__digest"))
        anti = batch.join(ref, "__digest", "left_anti")
        assert exchange_count(anti) == 1
        assert anti.count() == 0  # the known doc is recognised post-compaction
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        reset_store_tables(spark, f"{table}")
        reset_store_tables(spark, f"{table}__compact")


def test_survivor_sink_idempotent_under_forced_batch_replay(spark, tmp_path):
    """Round-7 verdict #2: a replayed micro-batch must not duplicate
    survivor rows in out_path.  Force a REAL replay: run the query, delete
    the checkpoint's last commit marker, restart — Spark re-executes the
    final batch against the already-mutated store; the per-batch dynamic
    partition overwrite keeps out_path duplicate-free."""
    import os
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_dedup_against_store,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    _time.sleep(1.1)  # distinct mtimes -> deterministic file->batch order
    spark.createDataFrame(
        [(2, "beta text"), (3, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))

    schema = spark.read.parquet(str(src)).schema

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_dedup_against_store(stream, store, out, checkpoint_dir=ckpt)
        q.awaitTermination()
        q.stop()  # release the checkpoint before the restart below
        deadline = _time.time() + 30
        while any(
            aq.id == q.id for aq in spark.streams.active
        ) and _time.time() < deadline:
            _time.sleep(0.2)

    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [0, 1, 3]

    # force the replay: drop the LAST commit marker; the restarted query
    # re-executes that batch (its offsets are already logged)
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits")) if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # stale sidecar blocks the commit re-write
        os.remove(crc)
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [0, 1, 3]  # zero duplicate survivor rows after the replay
    # each original batch still owns exactly one commit partition
    commit_ids = {
        r._commit_id
        for r in spark.read.parquet(out).select("_commit_id").distinct().collect()
    }
    assert len(commit_ids) == 2


def test_query_token_invariant_to_checkpoint_path_spelling():
    """Round-8 review: '/data/ckpt' and '/data/ckpt/' are the same
    checkpoint to Spark, so they must yield the same commit token — a
    restart script varying the spelling would otherwise duplicate the
    replayed batch's partition."""
    from woe_monotonic_binning_spark.streaming.dedup import _query_token

    a = _query_token("/data/ckpt")
    assert _query_token("/data/ckpt/") == a
    assert _query_token("/data/ckpt//") == a
    assert _query_token("/data/other") != a
    # checkpoint-less queries get a fresh random token per query
    assert _query_token(None) != _query_token(None)


def test_query_token_colon_in_relative_path_is_not_a_uri(monkeypatch, tmp_path):
    """Round-9 advice: urlparse calls 'foo' in 'foo:bar/ckpt' a scheme,
    and the URI branch minted 'foo://bar/ckpt' — so two spellings of the
    same local dir got different tokens and a replayed batch wrote a
    duplicate partition.  Only strings containing '://' take the URI
    branch; colon-bearing relative paths canonicalise as local paths."""
    import os

    from woe_monotonic_binning_spark.streaming.dedup import _query_token

    monkeypatch.chdir(tmp_path)
    a = _query_token("foo:bar/ckpt")
    assert a == _query_token("./foo:bar/ckpt")
    assert a == _query_token("foo:bar/ckpt/")
    assert a == _query_token(os.path.join(str(tmp_path), "foo:bar/ckpt"))
    # genuine URIs are untouched by the fix
    assert _query_token("s3a://bucket/x") == _query_token("s3a://bucket/x/")
    assert _query_token("file:/data/ckpt") == _query_token("/data/ckpt")


def test_out_layout_guard_rejects_pre_upgrade_append_files(spark, tmp_path):
    """Round-8 review: an out_path holding root-level parquet files from
    the pre-_commit_id append-mode sink would fail partition discovery
    only at READ time — the guard fails at query start with the
    migration step instead."""
    import pytest

    from woe_monotonic_binning_spark.streaming.dedup import _check_out_layout

    out = tmp_path / "out"
    _check_out_layout(str(out), spark)  # absent dir: fine
    out.mkdir()
    _check_out_layout(str(out), spark)  # empty dir: fine
    (out / "_commit_id=abc-0").mkdir()
    _check_out_layout(str(out), spark)  # partitioned layout: fine
    (out / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="_commit_id=legacy-0"):
        _check_out_layout(str(out), spark)


@pytest.mark.parametrize(
    "sink", ["flat_digest", "bucketed_digest", "simhash", "srp", "psi_monitor"]
)
def test_every_sink_refuses_legacy_out_layout_before_starting(spark, tmp_path, sink):
    """Each effectively-once sink starts through one start-up, so each one
    refuses an out_path holding root-level parquet files from the
    pre-_commit_id sink — at call time, before any query starts."""
    import pandas as pd

    from woe_monotonic_binning_spark.drift import baseline_fractions
    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_dedup_against_bucketed_store,
        streaming_dedup_against_store,
        streaming_simhash_dedup_against_store,
        streaming_srp_dedup_against_store,
    )
    from woe_monotonic_binning_spark.streaming.drift import streaming_psi_monitor

    src = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [(0, "alpha text", [1.0, 0.0], 0.5)],
        "doc_id long, text string, embedding array<double>, x double",
    )
    rows.write.parquet(src)
    stream = spark.readStream.schema(rows.schema).parquet(src)
    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"")
    bins = pd.DataFrame(
        {
            "variable": ["x", "x"],
            "interval_start_include": [0.0, 1.0],
            "interval_end_exclude": [1.0, 2.0],
            "woe": [-0.5, 0.5],
            "iv_components": [0.5, 0.5],
        }
    )
    start = {
        "flat_digest": lambda: streaming_dedup_against_store(
            stream, str(tmp_path / "store"), str(out)
        ),
        "bucketed_digest": lambda: streaming_dedup_against_bucketed_store(
            stream, "wmb_test_guard_digest", str(out)
        ),
        "simhash": lambda: streaming_simhash_dedup_against_store(
            stream, "wmb_test_guard_simhash", str(out)
        ),
        "srp": lambda: streaming_srp_dedup_against_store(
            stream, "wmb_test_guard_srp", str(out)
        ),
        "psi_monitor": lambda: streaming_psi_monitor(
            stream, bins, baseline_fractions(rows, bins), str(out)
        ),
    }[sink]
    with pytest.raises(ValueError, match="_commit_id=legacy-0"):
        start()
    assert not spark.streams.active


def test_query_token_handles_uri_checkpoints(monkeypatch, tmp_path):
    """Round-8 advice: URI-style checkpoints must not be abspath'd —
    'file:/x' and '/x' are the same checkpoint to Spark and must share a
    token, and an s3/hdfs URI token must not depend on the driver cwd
    (a cwd-dependent token turns a restart into a NEW lineage, quietly
    reverting effectively-once to at-least-once)."""
    import os

    from woe_monotonic_binning_spark.streaming.dedup import _query_token

    assert _query_token("file:/data/ckpt") == _query_token("/data/ckpt")
    assert _query_token("file:///data/ckpt") == _query_token("/data/ckpt")
    s3 = _query_token("s3a://bucket/pipe/ckpt")
    assert _query_token("s3a://bucket/pipe/ckpt/") == s3
    hdfs = _query_token("hdfs://nn:8020/ckpt")
    assert _query_token("hdfs://nn:8020/ckpt/") == hdfs
    assert s3 != hdfs
    # remote-URI tokens are cwd-invariant; relative local paths still
    # resolve against cwd (they are genuinely cwd-relative to Spark too)
    cwd = os.getcwd()
    try:
        os.chdir(str(tmp_path))
        assert _query_token("s3a://bucket/pipe/ckpt") == s3
        assert _query_token("hdfs://nn:8020/ckpt") == hdfs
    finally:
        os.chdir(cwd)


def test_out_layout_guard_covers_hadoop_fs_paths(spark, tmp_path):
    """Round-8 advice: with a SparkSession the layout guard lists through
    the Hadoop FileSystem API, so URI-style out_paths (where the mixed
    layout is most likely in production) are covered — exercised here
    with a file: URI, which a plain os-path listing would treat as
    nonexistent."""
    import pytest

    from woe_monotonic_binning_spark.streaming.dedup import _check_out_layout

    out = tmp_path / "out_uri"
    uri = f"file:{out}"
    _check_out_layout(uri, spark)  # absent: fine
    out.mkdir()
    (out / "_commit_id=abc-0").mkdir()
    _check_out_layout(uri, spark)  # partitioned layout: fine
    (out / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="_commit_id=legacy-0"):
        _check_out_layout(uri, spark)


def test_simhash_caps_seed_does_not_double_count_seeding_batch(spark, tmp_path):
    """Round-8 advice (medium): seeding the caps side table from a
    pre-caps posting store must count the store BEFORE this batch's
    postings land — a lazy seed re-evaluated after the append counts the
    seeding batch twice, and the inflated counts persist, crossing
    max_bucket early (silent recall loss).  Pin: after a batch against a
    caps-less store, the caps table equals a fresh count_distinct
    recompute of the final store."""
    import time as _time

    from pyspark.sql import functions as F

    from woe_monotonic_binning_spark.operators.dedup import simhash_fingerprints
    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_simhash_dedup_against_store,
    )

    table = "wmb_test_simhash_caps_seed"
    reset_store_tables(spark, f"{table}")
    reset_store_tables(spark, f"{table}_caps")
    try:
        batch1, batch2 = _near_dup_corpus()
        # build the posting store as an OLDER pipeline would have: postings
        # for batch1's survivors, no caps side table
        docs = spark.createDataFrame(batch1, "doc_id long, text string")
        postings = simhash_fingerprints(docs, "text", "doc_id").select(
            "doc_id", "sim_bands", F.posexplode("sim_bands").alias("band", "bh")
        )
        (
            postings.repartition(4, "band", "bh")
            .write.format("parquet")
            .bucketBy(4, "band", "bh")
            .sortBy("band", "bh")
            .saveAsTable(table)
        )
        assert not spark.catalog.tableExists(f"{table}_caps")
        src = tmp_path / "src"
        spark.createDataFrame(batch2, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        schema = spark.read.parquet(str(src)).schema
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = streaming_simhash_dedup_against_store(
            stream,
            table,
            str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_buckets=4,
        )
        q.awaitTermination()
        spark.catalog.refreshTable(table)
        caps = sorted(
            map(
                tuple,
                spark.table(f"{table}_caps")
                .select("band", "bh", "n", "rep_id")
                .collect(),
            )
        )
        recomputed = sorted(
            map(
                tuple,
                spark.table(table)
                .groupBy("band", "bh")
                .agg(
                    F.count_distinct("doc_id").alias("n"),
                    F.min("doc_id").alias("rep_id"),
                )
                .collect(),
            )
        )
        assert caps == recomputed
    finally:
        reset_store_tables(spark, f"{table}")
        reset_store_tables(spark, f"{table}_caps")


def test_simhash_store_overcap_buckets_probe_representative(spark, tmp_path):
    """Round-9: over-cap buckets must NOT be dropped from cross-batch
    probing (the skew smoke showed cap-as-drop zeroes recall for exactly
    the hottest cluster) — they probe the single earliest-posted
    representative carried in the caps side table.  max_bucket=0 makes
    EVERY bucket over-cap, so the cross-batch dedup here works only if
    the representative path works: pre-round-9 drop semantics kept 10
    and 11 (near-dups of stored 0 and 1).  The in-batch anchor-star
    fallback is exercised the same way (pairs (0,2) and (12,13) arise in
    buckets of size 2 > 0).

    Note: the fixture's batch ids are monotone increasing, so the
    earliest-posted representative coincides with the per-bucket min id."""
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_simhash_dedup_against_store,
    )

    table = "wmb_test_simhash_store_rep"
    reset_store_tables(spark, f"{table}")
    reset_store_tables(spark, f"{table}_caps")
    try:
        batch1, batch2 = _near_dup_corpus()
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        for rows in (batch1, batch2):
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_simhash_dedup_against_store(
            stream,
            table,
            out,
            max_bucket=0,
            checkpoint_dir=str(tmp_path / "ckpt"),
            num_buckets=4,
        )
        q.awaitTermination()
        kept = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert kept == {0, 1, 3, 12}
    finally:
        reset_store_tables(spark, f"{table}")
        reset_store_tables(spark, f"{table}_caps")


def test_query_token_no_authority_uris_are_cwd_invariant(monkeypatch, tmp_path):
    """Round-10 advice: Hadoop's no-authority URI spellings ('hdfs:/ckpt',
    's3a:/bucket/x') are URIs, not local colon-paths — their token must
    not depend on the driver cwd, and both no-authority spellings of the
    same path share a token."""
    import os

    from woe_monotonic_binning_spark.streaming.dedup import _query_token

    hdfs = _query_token("hdfs:/ckpt")
    assert _query_token("hdfs:///ckpt") == hdfs
    assert _query_token("hdfs:/ckpt/") == hdfs
    s3 = _query_token("s3a:/bucket/x")
    assert s3 != hdfs
    cwd = os.getcwd()
    try:
        os.chdir(str(tmp_path))
        assert _query_token("hdfs:/ckpt") == hdfs
        assert _query_token("s3a:/bucket/x") == s3
        # a RELATIVE colon-path is still local and genuinely cwd-relative
        rel = _query_token("foo:bar/ckpt")
        assert rel == _query_token("./foo:bar/ckpt")
        assert rel != _query_token("hdfs:/ckpt")
    finally:
        os.chdir(cwd)


@pytest.mark.certification  # slow battery; see pytest.ini (round 18)
def test_srp_stream_null_leading_embedding_does_not_skip_batch(spark, tmp_path):
    """Round-10 advice (high): with dim=None, a micro-batch whose FIRST
    row has a NULL embedding must not be silently dropped — dim is
    inferred from the first NON-NULL vector, and a batch with no non-NULL
    vector at all still writes every row as a survivor (only the SRP/store
    steps are skipped).  The store keeps working for later batches."""
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        streaming_srp_dedup_against_store,
    )

    table = "wmb_test_srp_nulldim"
    for suffix in ("_postings", "_vecs", "_caps"):
        reset_store_tables(spark, f"{table}{suffix}")
    try:
        e1 = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0]
        e1x3 = [0.0, 3.0, 0.0, 0.0, 0.0, 0.0]  # scaled copy: cosine 1.0
        b1 = [(0, None), (1, e1), (2, e1x3)]  # NULL row FIRST in the file
        b2 = [(10, None), (11, None)]  # no non-NULL vector at all
        b3 = [(20, [0.0, 2.0, 0.0, 0.0, 0.0, 0.0])]  # cross-batch dup of 1
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        for rows in (b1, b2, b3):
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).coalesce(1).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = streaming_srp_dedup_against_store(
            stream, table, out,
            checkpoint_dir=str(tmp_path / "ckpt"), num_buckets=4,
        )
        q.awaitTermination()
        kept = {r.vec_id for r in spark.read.parquet(out).collect()}
        # 0 (NULL) survives; 2 drops in-batch against 1; the all-NULL
        # batch survives whole; 20 drops cross-batch against the store
        assert kept == {0, 1, 10, 11}
        for suffix in ("_postings", "_vecs"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        posted = {
            r.vec_id
            for r in spark.table(f"{table}_postings")
            .select("vec_id").distinct().collect()
        }
        # batch-1 survivors posted (incl. the NULL row's degenerate
        # bands); the bandless all-NULL batch skipped the store
        assert 1 in posted and not posted & {10, 11, 20}
    finally:
        for suffix in ("_postings", "_vecs", "_caps"):
            reset_store_tables(spark, f"{table}{suffix}")


@pytest.mark.certification  # slow battery; see pytest.ini (round 18)
def test_compact_srp_store_roundtrip(spark, tmp_path):
    """compact_srp_store: collapses replay-duplicated posting/vector rows
    to one file per bucket, REBUILDS caps from count_distinct (round-10
    advice: caps drift from a partial commit must not be carried
    forward), and the store still drops a known dup afterwards."""
    import glob
    import time as _time

    from woe_monotonic_binning_spark.streaming.dedup import (
        compact_srp_store,
        streaming_srp_dedup_against_store,
    )

    table = "wmb_test_srp_compact"
    for suffix in ("_postings", "_vecs", "_caps"):
        reset_store_tables(spark, f"{table}{suffix}")
        reset_store_tables(spark, f"{table}{suffix}__compact")
    try:
        b1, b2 = _srp_stream_corpus()
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        for rows in (b1, b2):
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).coalesce(1).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        streaming_srp_dedup_against_store(
            stream, table, out,
            checkpoint_dir=str(tmp_path / "ckpt"), num_buckets=4,
        ).awaitTermination()
        kept = {r.vec_id for r in spark.read.parquet(out).collect()}

        # simulate an at-least-once partial-commit replay: re-append the
        # whole posting and vector stores (duplicate rows, caps now stale
        # at half the true per-bucket duplicate multiplicity)
        for suffix, keys in (("_postings", ["band_idx", "band_val"]), ("_vecs", ["vec_id"])):
            t = f"{table}{suffix}"
            dup = spark.table(t).localCheckpoint(eager=True)
            (
                dup.repartition(4, *keys)
                .write.mode("append").format("parquet")
                .bucketBy(4, *keys).sortBy(*keys).saveAsTable(t)
            )
        spark.catalog.refreshTable(f"{table}_postings")
        n_post_dup = spark.table(f"{table}_postings").count()
        assert n_post_dup == 2 * 8 * len(kept)

        compact_srp_store(spark, table)

        for suffix in ("_postings", "_vecs", "_caps"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        assert len(glob.glob(f"{warehouse}/{table}_postings/*.parquet")) <= 4
        assert len(glob.glob(f"{warehouse}/{table}_vecs/*.parquet")) <= 4
        post = spark.table(f"{table}_postings")
        assert post.count() == 8 * len(kept)  # duplicates collapsed
        assert spark.table(f"{table}_vecs").count() == len(kept)
        # caps == full recompute over the compacted postings
        caps = spark.table(f"{table}_caps")
        recomputed = post.groupBy("band_idx", "band_val").agg(
            F.count_distinct("vec_id").alias("n"),
            F.min("vec_id").alias("rep_id"),
        )
        assert sorted(
            map(tuple, caps.select("band_idx", "band_val", "n", "rep_id").collect())
        ) == sorted(map(tuple, recomputed.collect()))

        # the compacted store still drops a known cross-batch dup
        b3 = [(30, [5.0, 0.0, 0.0, 0.0, 0.0, 0.0])]  # scaled copy of vec 0
        spark.createDataFrame(
            b3, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(str(src))
        stream2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        streaming_srp_dedup_against_store(
            stream2, table, out,
            checkpoint_dir=str(tmp_path / "ckpt"), num_buckets=4,
        ).awaitTermination()
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == kept
    finally:
        for suffix in ("_postings", "_vecs", "_caps"):
            reset_store_tables(spark, f"{table}{suffix}")
            reset_store_tables(spark, f"{table}{suffix}__compact")


@pytest.mark.certification  # slow battery; see pytest.ini (round 18)
def test_compact_srp_store_after_forced_checkpoint_replay(spark, tmp_path):
    """Round-11 verdict #6, the full crash story end to end:

    1. a FULL-commit replay (drop the last commit marker, restart) is a
       store NO-OP — every replayed row self-matches at cosine 1.0, so
       postings/vecs/caps are untouched and survivors stay
       duplicate-free (the docstring's replay-safety claim, pinned);
    2. the real duplicate window — a crash BETWEEN the vecs append and
       the postings append (fault-injected at the saveAsTable seam) —
       leaves orphan vectors; the replay cannot self-match (no postings
       yet), re-appends the vector, and the store carries it twice;
    3. compact_srp_store restores vecs == survivors and
       postings == n_bands x survivors, rebuilds caps to the full
       recompute, and the compacted store still drops a scaled copy.
    """
    import os
    import time as _time

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from woe_monotonic_binning_spark.streaming.dedup import (
        compact_srp_store,
        streaming_srp_dedup_against_store,
    )

    table = "wmb_test_srp_compact_replay"
    for suffix in ("_postings", "_vecs", "_caps"):
        reset_store_tables(spark, f"{table}{suffix}")
        reset_store_tables(spark, f"{table}{suffix}__compact")
    try:
        b1, b2 = _srp_stream_corpus()
        src = tmp_path / "src"
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        for rows in (b1, b2):
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).coalesce(1).write.mode("append").parquet(str(src))
            _time.sleep(1.1)
        schema = spark.read.parquet(str(src)).schema

        def run():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            q = streaming_srp_dedup_against_store(
                stream, table, out, checkpoint_dir=ckpt, num_buckets=4
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
            deadline = _time.time() + 30
            while any(
                aq.id == q.id for aq in spark.streams.active
            ) and _time.time() < deadline:
                _time.sleep(0.2)

        run()
        kept = {r.vec_id for r in spark.read.parquet(out).collect()}
        assert kept == {0, 1, 3, 11, 12}
        n_post_clean = spark.table(f"{table}_postings").count()
        assert n_post_clean == 8 * len(kept)

        # -- 1. full-commit replay: store no-op ------------------------
        commits = sorted(
            c for c in os.listdir(os.path.join(ckpt, "commits"))
            if not c.startswith(".")
        )
        os.remove(os.path.join(ckpt, "commits", commits[-1]))
        crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run()
        for suffix in ("_postings", "_vecs", "_caps"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == kept
        assert spark.table(f"{table}_postings").count() == n_post_clean
        assert spark.table(f"{table}_vecs").count() == len(kept)

        # -- 2. crash between vecs and postings appends ----------------
        spark.createDataFrame(
            [(30, [0.0, 0.0, 0.0, 0.0, 0.0, 7.0])],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(str(src))
        orig_save = DataFrameWriter.saveAsTable
        armed = {"boom": True}

        def boom(self, name, *a, **k):
            if armed["boom"] and name == f"{table}_postings":
                armed["boom"] = False
                raise RuntimeError("injected crash before postings append")
            return orig_save(self, name, *a, **k)

        DataFrameWriter.saveAsTable = boom
        try:
            try:
                run()
                raise AssertionError("injected crash did not surface")
            except StreamingQueryException:
                pass  # the batch failed between the two appends
        finally:
            DataFrameWriter.saveAsTable = orig_save
        # replay: vec 30 finds its orphan vector but NO posting, cannot
        # self-match, survives again -> duplicate vecs row
        run()
        kept3 = kept | {30}
        for suffix in ("_postings", "_vecs", "_caps"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == kept3
        assert spark.table(f"{table}_vecs").count() == len(kept3) + 1
        assert spark.table(f"{table}_postings").count() == 8 * len(kept3)

        # -- 3. compaction restores every invariant ---------------------
        compact_srp_store(spark, table)
        for suffix in ("_postings", "_vecs", "_caps"):
            spark.catalog.refreshTable(f"{table}{suffix}")
        post = spark.table(f"{table}_postings")
        assert post.count() == 8 * len(kept3)
        assert spark.table(f"{table}_vecs").count() == len(kept3)
        caps = spark.table(f"{table}_caps")
        recomputed = post.groupBy("band_idx", "band_val").agg(
            F.count_distinct("vec_id").alias("n"),
            F.min("vec_id").alias("rep_id"),
        )
        assert sorted(
            map(tuple, caps.select("band_idx", "band_val", "n", "rep_id").collect())
        ) == sorted(map(tuple, recomputed.collect()))

        # the compacted store still drops a scaled copy of the vector
        # whose crash window we replayed
        spark.createDataFrame(
            [(40, [0.0, 0.0, 0.0, 0.0, 0.0, 21.0])],
            "vec_id long, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(str(src))
        run()
        assert {r.vec_id for r in spark.read.parquet(out).collect()} == kept3
    finally:
        for suffix in ("_postings", "_vecs", "_caps"):
            reset_store_tables(spark, f"{table}{suffix}")
            reset_store_tables(spark, f"{table}{suffix}__compact")

"""Perplexity filter (perplexity.py): LM training, exact integer
serving, DuckDB twins, the integer-domain gate, stream parity, plan
shape (round 17)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.perplexity import (
    NGramLMModel,
    ppl_logmass_sql,
    ppl_tokens_sql,
    train_ngram_lm,
)

_TRUSTED = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps under the old oak tree",
    "the quick fox runs over the green hill",
    "a brown dog and a quick fox play near the tree",
    "the old tree stands over the green hill",
]


def _trusted_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TRUSTED)], "doc_id long, text string"
    )


def test_train_is_deterministic_and_bounded(spark):
    m1 = train_ngram_lm(_trusted_df(spark), min_count=1, max_vocab=100)
    m2 = train_ngram_lm(_trusted_df(spark), min_count=1, max_vocab=100)
    assert m1.bigram_logp == m2.bigram_logp
    assert m1.miss_logp == m2.miss_logp
    # the caps bound the artifact
    m3 = train_ngram_lm(
        _trusted_df(spark), min_count=1, max_vocab=5, max_ngrams=7
    )
    assert len(m3.bigram_logp) == 7
    assert len(m3.miss_logp) == 5 + 2  # vocab + <s> + <unk>


def test_fluent_scores_below_gibberish(spark):
    """The point of the filter: in-domain text gets lower perplexity
    than shuffled/gibberish text under the same LM."""
    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    probe = spark.createDataFrame(
        [
            (0, "the quick fox jumps over the tree"),       # fluent
            (1, "tree the over jumps fox quick the"),        # shuffled
            (2, "zxq wvut qqq lkjh zzz mmmnb vvv"),          # gibberish
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.ppl for r in m.score(probe).collect()}
    assert got[0] < got[1] < got[2], got


def test_score_matches_driver_math_and_gate(spark):
    """The distributed fold equals a pure-Python replay of the model
    dicts, and ppl_keep equals the float-domain definition at several
    thresholds (the integer gate is a rewrite, not an approximation)."""
    m = train_ngram_lm(_trusted_df(spark), min_count=1, max_ngrams=20)
    probe = spark.createDataFrame(
        [(0, "the quick fox"), (1, "dog tree hill the the"),
         (2, "unseen wordage flux")],
        "doc_id long, text string",
    )
    import re

    def replay(text):
        toks = re.findall("[A-Za-z0-9]+", text.lower())
        toks = [t if t in m.vocabulary else "<unk>" for t in toks]
        hist = ["<s>"] + toks[:-1]
        s = 0
        for h, w in zip(hist, toks):
            s += m.bigram_logp.get(f"{h} {w}", m.miss_logp[h])
            if w == "<unk>":
                s -= m.unk_penalty
        return s, len(toks)

    for thr in (5.0, 30.0, 200.0):
        got = {
            r.doc_id: r
            for r in m.score(probe, keep_threshold=thr).collect()
        }
        for i, (_, text) in enumerate(
            [(0, "the quick fox"), (1, "dog tree hill the the"),
             (2, "unseen wordage flux")]
        ):
            s, n = replay(text)
            r = got[i]
            assert (r.ppl_logmass, r.ppl_n) == (s, n), (thr, i)
            want_ppl = math.exp(-s / 1e6 / n)
            assert abs(r.ppl - want_ppl) < 1e-4
            assert r.ppl_keep == (want_ppl < thr) or abs(
                want_ppl - thr
            ) < 1e-9, (thr, i)


def test_honest_rejects_null_and_tokenless(spark):
    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    probe = spark.createDataFrame(
        [(0, None), (1, ""), (2, "!!! ???"), (3, "the fox")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in m.score(probe, keep_threshold=50).collect()}
    for i in (0, 1, 2):
        assert got[i].ppl_logmass is None and got[i].ppl_n is None, i
        assert got[i].ppl is None and got[i].ppl_keep is None, i
    assert got[3].ppl_logmass is not None and got[3].ppl_keep is not None


def test_save_load_and_validation(spark, tmp_path):
    m = train_ngram_lm(_trusted_df(spark), min_count=1, max_ngrams=10)
    p = str(tmp_path / "lm.json")
    m.save(p)
    m2 = NGramLMModel.load(p)
    assert m2.bigram_logp == m.bigram_logp and m2.miss_logp == m.miss_logp
    assert m2.unk_penalty == m.unk_penalty > 0
    with pytest.raises(ValueError, match="must cover"):
        NGramLMModel({}, {"the": -1})
    with pytest.raises(ValueError, match="missing from miss_logp"):
        NGramLMModel(
            {"ghost word": -1}, {"<s>": -1, "<unk>": -1}
        )


def test_duckdb_twin_parity(spark):
    """The SQL twins replay the same pinned dicts: identical bigint
    log-mass and counts, including <unk> mapping and NULL rejects."""
    m = train_ngram_lm(_trusted_df(spark), min_count=1, max_ngrams=25)
    rows = [
        (0, "the quick brown fox"),
        (1, "unseen tokens only here"),
        (2, None),
        (3, "the the the"),
        (4, "Dog, TREE; hill!"),
        (5, "the quick fox jumps"),
        (6, "unseen zz qq"),
        (7, ""),
        (8, "the the over under the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mine = {
        r.doc_id: (r.ppl_logmass, r.ppl_n) for r in m.score(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if s is None else chr(39) + s + chr(39)})"
            for i, s in rows
        )
        + ") AS v(doc_id, text)"
    )
    sql = f"""
    WITH tk AS (SELECT doc_id, {ppl_tokens_sql('text', m.vocabulary)} AS tks
                FROM t)
    SELECT doc_id,
           CASE WHEN len(tks) > 0 THEN {ppl_logmass_sql(m, 'tks')} END,
           CASE WHEN len(tks) > 0 THEN CAST(len(tks) AS INTEGER) END
    FROM tk ORDER BY doc_id
    """
    for doc_id, lm, n in con.execute(sql).fetchall():
        assert mine[doc_id] == (lm, n), doc_id


def test_weight_perturbation_mutant(spark):
    """Sensitivity: one micro-nat on one bigram moves the log-mass by
    exactly that bigram's occurrence count — a wrong constant cannot
    survive the certified hash."""
    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    key = "the quick"
    assert key in m.bigram_logp
    bumped = dict(m.bigram_logp)
    bumped[key] += 1
    m2 = NGramLMModel(bumped, m.miss_logp)
    probe = spark.createDataFrame(
        [(0, "the quick fox and the quick dog")], "doc_id long, text string"
    )
    a = m.score(probe).collect()[0].ppl_logmass
    b = m2.score(probe).collect()[0].ppl_logmass
    assert b - a == 2  # 'the quick' fires twice


def test_stream_equals_batch(spark, tmp_path):
    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    probe = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_TRUSTED * 2)],
        "doc_id long, text string",
    )
    probe.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        m.score(stream, keep_threshold=40.0)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["doc_id", "ppl_logmass", "ppl_n", "ppl", "ppl_keep"]
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(out).select(*cols).collect()
    )
    batch = sorted(
        tuple(r)
        for r in m.score(probe, keep_threshold=40.0).select(*cols).collect()
    )
    assert streamed == batch


def test_curate_corpus_perplexity_gate(spark):
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    docs = spark.createDataFrame(
        [
            (0, "the quick fox jumps over the lazy dog", "src0"),
            (1, "zxq wvut qqq lkjh zzz mmmnb", "src0"),
            (2, "the old tree stands over the hill", "src0"),
            (3, "", "src0"),
        ],
        "doc_id long, text string, source string",
    )
    kept = curate_corpus(
        docs, perplexity_model=m, perplexity_threshold=40.0,
        quality_threshold=0.0, near_dup=None, cache_survivors=False,
    )
    ids = {r.doc_id for r in kept.collect()}
    assert 0 in ids and 2 in ids
    assert 1 not in ids and 3 not in ids  # gibberish + token-less drop
    assert "ppl" not in kept.columns and "ppl_keep" not in kept.columns
    annotated = curate_corpus(
        docs, perplexity_model=m,
        quality_threshold=0.0, near_dup=None, cache_survivors=False,
    )
    assert "ppl" in annotated.columns


def test_score_plan_shape(spark):
    """Serving is a map-side pass: zero shuffle Exchange (the Arrow
    kernel ships the tables in the closure), so at 100 TB it fuses into
    the corpus scan."""
    from woe_monotonic_binning_spark.plans import exchange_count

    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert exchange_count(m.score(docs, keep_threshold=40.0)) == 0


def test_method_dispatch_and_big_table_parity(spark):
    """Scoring is the Arrow kernel — visible in the plan.  A 20k-padded
    table scores in-vocab rows identically (the padding keys never
    fire)."""
    from woe_monotonic_binning_spark.plans import python_eval_count

    m = train_ngram_lm(_trusted_df(spark), min_count=1)
    probe = spark.createDataFrame([(0, "the fox")], "doc_id long, text string")
    assert python_eval_count(m.score(probe)) > 0
    big_bi = dict(m.bigram_logp)
    for i in range(20_001):
        big_bi[f"zz{i} qq{i}"] = -5_000_000
    big_miss = dict(m.miss_logp)
    for i in range(20_001):
        big_miss[f"zz{i}"] = -15_000_000
    big = NGramLMModel(big_bi, big_miss, m.unk_penalty)
    got_small = m.score(probe).collect()[0]
    got_big = big.score(probe).collect()[0]
    assert got_small.ppl_logmass == got_big.ppl_logmass

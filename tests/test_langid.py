"""Trained language ID (langid.py): NB training, exact integer serving,
cross-engine twins, stream parity, plan shape (round 17)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.langid import (
    LanguageIDModel,
    lang_buckets_sql,
    lang_norm_sql,
    lang_pred_sql,
    lang_score_sql,
    train_language_id,
)

# Real distinctive text per language (public pangram/sample sentences,
# cycled with small edits so train/holdout differ) — the synthetic
# documents table's text carries NO language signal (its lang column is
# a label, not a property of the text), so algorithm quality is proven
# here and the driver slot only certifies the arithmetic.
_SENTENCES = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she sells sea shells by the sea shore every sunny morning",
        "there is nothing better than a good book and a warm fire",
        "to be or not to be that is the question for the ages",
        "all that glitters is not gold and all who wander are not lost",
        "the rain in spain stays mainly in the plain they say",
        "we hold these truths about the weather and the morning light",
        "every child knows that the best stories begin with once upon a time",
        "the old man walked slowly through the quiet streets of the town",
        "a journey of a thousand miles begins with a single step forward",
        "what you see is what you get when the morning comes around",
        "birds of a feather flock together in the early autumn sky",
    ],
    "de": [
        "der schnelle braune fuchs springt über den faulen hund am fluss",
        "sie verkauft muscheln am meeresufer an jedem sonnigen morgen",
        "es gibt nichts besseres als ein gutes buch und ein warmes feuer",
        "sein oder nicht sein das ist hier die frage der zeiten",
        "es ist nicht alles gold was glänzt und nicht alle wanderer sind verloren",
        "der regen in spanien bleibt hauptsächlich in der ebene sagt man",
        "wir halten diese wahrheiten über das wetter und das morgenlicht",
        "jedes kind weiß dass die besten geschichten mit es war einmal beginnen",
        "der alte mann ging langsam durch die stillen straßen der stadt",
        "eine reise von tausend meilen beginnt mit einem einzigen schritt",
        "was du siehst ist was du bekommst wenn der morgen kommt",
        "gleich und gleich gesellt sich gern am frühen herbsthimmel",
    ],
    "fr": [
        "le rapide renard brun saute par dessus le chien paresseux près du fleuve",
        "elle vend des coquillages au bord de la mer chaque matin ensoleillé",
        "il n'y a rien de mieux qu'un bon livre et un feu chaleureux",
        "être ou ne pas être telle est la question des siècles",
        "tout ce qui brille n'est pas or et tous ceux qui errent ne sont pas perdus",
        "la pluie en espagne reste surtout dans la plaine dit on",
        "nous tenons ces vérités sur le temps et la lumière du matin",
        "chaque enfant sait que les meilleures histoires commencent par il était une fois",
        "le vieil homme marchait lentement dans les rues calmes de la ville",
        "un voyage de mille lieues commence par un premier pas en avant",
        "ce que tu vois est ce que tu obtiens quand le matin arrive",
        "qui se ressemble s'assemble dans le ciel d'automne",
    ],
}


def _fixture_df(spark, holdout=False):
    rows = []
    i = 0
    for lang, sents in _SENTENCES.items():
        for j, s in enumerate(sents):
            if (j % 3 == 2) != holdout:
                continue
            rows.append((i, lang, s))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_train_and_holdout_accuracy(spark):
    """On genuinely multilingual text the NB classifier separates the
    languages it saw — 100% on this small distinctive holdout."""
    m = train_language_id(_fixture_df(spark), buckets=1024)
    assert m.languages == ["de", "en", "fr"]
    got = m.predict(_fixture_df(spark, holdout=True)).collect()
    assert len(got) == 12
    for r in got:
        assert r.lang_pred == r.lang, (r.text, r.lang_pred)


def test_und_null_and_tiebreak(spark):
    """NULL / gram-less text -> 'und'; exact score ties break to the
    lexicographically smallest language code."""
    m = train_language_id(_fixture_df(spark), buckets=64)
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "ab"), (3, "   ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang_pred for r in m.predict(df).collect()}
    assert got == {0: "und", 1: "und", 2: "und", 3: "und"}
    # hand-built tie: identical weights for two languages
    tie = LanguageIDModel(
        {"aa": [0, 0], "bb": [0, 0]}, {"aa": -5, "bb": -5}, n=1, buckets=2
    )
    row = tie.predict(
        spark.createDataFrame([(0, "xy")], "doc_id long, text string")
    ).collect()[0]
    assert row.lang_score_aa == row.lang_score_bb
    assert row.lang_pred == "aa"


def test_save_load_roundtrip_and_validation(spark, tmp_path):
    m = train_language_id(_fixture_df(spark), buckets=32)
    p = str(tmp_path / "lid.json")
    m.save(p)
    m2 = LanguageIDModel.load(p)
    assert m2.weights == m.weights and m2.log_priors == m.log_priors
    assert (m2.n, m2.buckets, m2.languages) == (m.n, m.buckets, m.languages)
    with pytest.raises(ValueError, match="languages"):
        LanguageIDModel({"en": [0]}, {"de": 0}, buckets=1)
    with pytest.raises(ValueError, match="weights for"):
        LanguageIDModel({"en": [0, 0]}, {"en": 0}, buckets=3)
    with pytest.raises(ValueError, match="buckets"):
        train_language_id(_fixture_df(spark), buckets=1)
    with pytest.raises(ValueError, match="NULL everywhere"):
        train_language_id(
            spark.createDataFrame(
                [(0, "x", None)], "doc_id long, text string, lang string"
            )
        )


def test_detect_language_model_path(spark):
    """detect_language(model=) swaps the trained path in under the same
    lang_pred contract; no model keeps the rule-based columns."""
    from woe_monotonic_binning_spark.operators.text import detect_language

    m = train_language_id(_fixture_df(spark), buckets=64)
    df = _fixture_df(spark, holdout=True)
    trained = detect_language(df, model=m)
    assert "lang_pred" in trained.columns
    assert f"lang_score_{m.languages[0]}" in trained.columns
    rule = detect_language(df)
    assert "score_en" in rule.columns and "lang_pred" in rule.columns


def test_duckdb_twin_parity(spark):
    """The SQL twins walk the same constants: identical bigint scores
    and predictions on text with multi-byte chars and NULLs."""
    m = train_language_id(_fixture_df(spark), buckets=32)
    rows = [
        (0, "der schnelle fuchs und der träge hund am ufer"),
        (1, "the quick fox and the lazy dog by the shore"),
        (2, "la mer et le ciel près de la plaine ensoleillée"),
        (3, None),
        (4, "xy"),
        (5, "naïve café über straße œuvre"),
        (6, "der schnelle fuchs am ufer"),
        (7, "the quick fox ashore"),
        (8, "naïve café über"),
        (9, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mine = {
        r.doc_id: r
        for r in m.predict(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if s is None else chr(39)+s.replace(chr(39), chr(39)*2)+chr(39)})"
            for i, s in rows
        )
        + ") AS v(doc_id, text)"
    )
    refs = {l: f"s_{l}" for l in m.languages}
    sql = f"""
    WITH nrm AS (SELECT doc_id, {lang_norm_sql('text')} AS nc FROM t),
    bk AS (SELECT doc_id, {lang_buckets_sql('nc', m.n, m.buckets)} AS bks
           FROM nrm),
    sc AS (SELECT doc_id, bks,
           {', '.join(lang_score_sql(m.weights[l], m.log_priors[l], 'bks') + f' AS s_{l}' for l in m.languages)}
           FROM bk)
    SELECT doc_id, {lang_pred_sql(m.languages, 'bks', refs)} AS pred,
           {', '.join(f's_{l}' for l in m.languages)}
    FROM sc ORDER BY doc_id
    """
    for row in con.execute(sql).fetchall():
        r = mine[row[0]]
        assert r.lang_pred == (row[1] or "und"), row
        for i, l in enumerate(m.languages):
            assert r[f"lang_score_{l}"] == row[2 + i], (row[0], l)


def test_weight_perturbation_mutant(spark):
    """Sensitivity: nudging ONE bucket weight by one micro-nat moves
    that language's score by exactly the bucket's occurrence count —
    the certified hash cannot survive a wrong weight."""
    m = train_language_id(_fixture_df(spark), buckets=32)
    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    base = m.predict(df).collect()[0]
    bumped = {k: list(v) for k, v in m.weights.items()}
    bumped["en"][7] += 1
    m2 = LanguageIDModel(bumped, m.log_priors, n=m.n, buckets=m.buckets)
    got = m2.predict(df).collect()[0]
    n_hits = sum(
        1 for b in m2.predict(df, keep_scores=False)
        .select(F.explode(m2.bucket_column(F.col("text"))).alias("b"))
        .collect() if b.b == 7
    )
    assert got.lang_score_en - base.lang_score_en == n_hits
    assert got.lang_score_de == base.lang_score_de


def test_stream_equals_batch(spark, tmp_path):
    """predict is a stateless projection: scoring a file-per-trigger
    stream yields byte-identical rows to the batch run."""
    m = train_language_id(_fixture_df(spark), buckets=32)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = _fixture_df(spark, holdout=True).drop("lang")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        m.predict(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["doc_id", "lang_pred"] + [
        f"lang_score_{l}" for l in m.languages
    ]
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(out).select(*cols).collect()
    )
    batch = sorted(tuple(r) for r in m.predict(df).select(*cols).collect())
    assert streamed == batch


def test_curate_corpus_lang_gate(spark):
    """curate_corpus(lang_model=, lang_keep=) drops off-language docs
    before the quality stages; annotation-only mode keeps lang_pred."""
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    m = train_language_id(_fixture_df(spark), buckets=1024)
    docs = _fixture_df(spark, holdout=True).withColumn(
        "source", F.lit("src0")
    )
    kept = curate_corpus(
        docs, lang_model=m, lang_keep=["en"],
        quality_threshold=0.0, near_dup=None, cache_survivors=False,
    )
    got = kept.collect()
    assert {r.lang for r in got} == {"en"} and len(got) == 4
    assert "lang_pred" not in kept.columns and "__lang_pred" not in kept.columns
    annotated = curate_corpus(
        docs, lang_model=m,
        quality_threshold=0.0, near_dup=None, cache_survivors=False,
    )
    assert "lang_pred" in annotated.columns
    rows = annotated.collect()
    assert len(rows) == 12
    assert all(r.lang_pred == r.lang for r in rows)


def test_predict_plan_is_map_side(spark):
    """Serving is one fused map-side pass: zero Exchange, zero joins and
    zero Python (the model lives in single array-Literal nodes), so at
    100 TB it fuses into the corpus scan."""
    from woe_monotonic_binning_spark.plans import (
        exchange_count,
        python_eval_count,
    )

    m = train_language_id(_fixture_df(spark), buckets=64)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert exchange_count(m.predict(docs)) == 0
    assert python_eval_count(m.predict(docs)) == 0


def test_mixed_ngram_lengths(spark):
    """n=(2,3) unions the per-length gram features (the fastText
    posture): training/serving/SQL twin all agree, validation rejects
    bad specs, save/load round-trips the tuple."""
    m = train_language_id(_fixture_df(spark), n=(2, 3), buckets=256)
    assert m.n == (2, 3)
    got = m.predict(_fixture_df(spark, holdout=True)).collect()
    acc = sum(1 for r in got if r.lang_pred == r.lang) / len(got)
    assert acc >= 0.9, acc
    # twin parity on mixed lengths
    rows = [(0, "der schnelle fuchs am ufer"), (1, "the quick fox ashore")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mine = {r.doc_id: r for r in m.predict(df).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT 0 AS doc_id,"
        " 'der schnelle fuchs am ufer' AS text"
        " UNION ALL SELECT 1, 'the quick fox ashore'"
    )
    sql = f"""
    WITH nrm AS (SELECT doc_id, {lang_norm_sql('text')} AS nc FROM t),
    bk AS (SELECT doc_id, {lang_buckets_sql('nc', m.n, m.buckets)} AS bks
           FROM nrm)
    SELECT doc_id,
           {', '.join(lang_score_sql(m.weights[l], m.log_priors[l], 'bks') + f' AS s_{l}' for l in m.languages)}
    FROM bk ORDER BY doc_id
    """
    for row in con.execute(sql).fetchall():
        r = mine[row[0]]
        for i, l in enumerate(m.languages):
            assert r[f"lang_score_{l}"] == row[1 + i], (row[0], l)
    # save/load round-trips the tuple spec
    import tempfile, os
    p = os.path.join(tempfile.mkdtemp(), "mixed.json")
    m.save(p)
    m2 = LanguageIDModel.load(p)
    assert m2.n == (2, 3)
    with pytest.raises(ValueError, match="gram lengths"):
        LanguageIDModel({"aa": [0, 0]}, {"aa": 0}, n=(2, 2), buckets=2)
    with pytest.raises(ValueError, match="gram lengths"):
        train_language_id(_fixture_df(spark), n=0)

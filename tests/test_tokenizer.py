"""Trainable BPE tokenizer (round 15, verdict item 1).

Layers: pure-core golden merges and the single-merge/bulk-merge
equivalence property; distributed-train == pure-train determinism (with
the max_word_types cut); distributed apply == pure encode including
NULL/empty/unicode; save/load; and the real-count wiring into
pack_sequences / select_to_token_budget.  The driver-certified surface
is the q_token_budget 'bpe' section (recursive-CTE oracle twin); its
merge-order mutant lives in tests/test_oracle_sensitivity.py.
"""

from __future__ import annotations

import random
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.operators.tokenizer import (
    BPETokenizer,
    bpe_token_count,
    encode_word,
    pretokens,
    tokenize_bpe,
    tokenize_ids,
    train_bpe,
    train_bpe_from_counts,
)

# The Python twin of text._BPE_RE, used ONLY by tests (production
# pre-tokenization is JVM-side; see tokenizer.pretokens).
_BPE_PY = re.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]")


def _counts(corpus):
    c: dict[str, int] = {}
    for t in corpus:
        for w in _BPE_PY.findall(t):
            c[w] = c.get(w, 0) + 1
    return c


# ---------------------------------------------------------------------------
# pure core


def test_golden_merges_hand_computed():
    """Sennrich's own running example: {'low':5, 'lower':2, 'newest':6,
    'widest':3}.  Hand-derivable sequence with the documented tie-break
    (max count, then lexicographically smallest pair)."""
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe_from_counts(counts, 6)
    # pair counts round 1: (e,s)=9, (s,t)=9, (l,o)=7, (o,w)=7, (w,e)=8...
    # ties break lexicographically: (e,s) < (s,t); then (es,t)=9.
    assert merges[:2] == [("e", "s"), ("es", "t")]
    # next: (l,o)=7, (o,w)=7, (w,est)=6, (n,e)=6... -> (l,o) then (lo,w)
    assert merges[2:4] == [("l", "o"), ("lo", "w")]
    # rounds 5-6: count-6 tie (e,w) < (n,e) < (w,est); then (ew,est)
    assert merges[4:6] == [("e", "w"), ("ew", "est")]
    tok = BPETokenizer(merges)
    # encoding of a training word must reproduce the merged form the
    # trainer itself reached (apply == train consistency)
    assert tok.encode("newest") == ["n", "ewest"]
    assert tok.encode("lowest") == ["low", "est"]


def test_trainer_stops_when_no_pair_repeats():
    """A merge that fires once is memorization — the loop must stop, not
    burn num_merges on singletons."""
    merges = train_bpe_from_counts({"ab": 1, "cd": 1}, 10)
    assert merges == []
    # one repeated pair, everything downstream is unique
    merges = train_bpe_from_counts({"ab": 2, "abc": 1}, 10)
    assert merges[0] == ("a", "b")
    # ("ab","c") now occurs once -> stop
    assert len(merges) == 1


def test_single_leftmost_merge_equals_bulk_merge_apply():
    """encode_word merges ONE lowest-rank occurrence per step; the
    classic apply merges ALL occurrences of the best pair per step.  For
    ranks produced by training (a merged token's pairs always rank
    later), the two are equivalent — the property the recursive-CTE
    oracle twin relies on.  Fuzzed over 60 random corpora."""

    def bulk_encode(word, ranks):
        syms = list(word)
        while len(syms) > 1:
            best = None
            for a, b in zip(syms, syms[1:]):
                r = ranks.get((a, b))
                if r is not None and (best is None or r < best[0]):
                    best = (r, (a, b))
            if best is None:
                break
            pair = best[1]
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == pair[0]
                    and syms[i + 1] == pair[1]
                ):
                    out.append(pair[0] + pair[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    rng = random.Random(1515)
    alphabet = "abcde"
    for trial in range(60):
        words = {
            "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(1, 12))
            ): rng.randrange(1, 9)
            for _ in range(rng.randrange(3, 30))
        }
        tok = BPETokenizer(train_bpe_from_counts(words, rng.randrange(1, 40)))
        probes = list(words) + [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 15)))
            for _ in range(10)
        ]
        for w in probes:
            assert encode_word(w, tok.ranks) == bulk_encode(w, tok.ranks), (
                trial,
                w,
                tok.merges,
            )


def test_encode_never_fails_and_roundtrips():
    """BPE never rejects: unseen characters stay as singletons, and the
    concatenation of the tokens always reproduces the word."""
    tok = BPETokenizer(train_bpe_from_counts({"hello": 5, "help": 3}, 8))
    for w in ("hello", "help", "hzllo", "日本語", "", "x"):
        toks = tok.encode(w)
        assert "".join(toks) == w


def test_save_load_roundtrip(tmp_path):
    tok = BPETokenizer(train_bpe_from_counts({"table": 4, "tables": 3}, 6))
    p = str(tmp_path / "bpe.json")
    tok.save(p)
    tok2 = BPETokenizer.load(p)
    assert tok2.merges == tok.merges and tok2.ranks == tok.ranks
    assert tok.vocab() == tok2.vocab()


# ---------------------------------------------------------------------------
# distributed train


def test_train_bpe_matches_pure_python(spark):
    corpus = [
        "table table scan window fast faster fastest",
        "value values scan scanner batch batches merge merges",
        "sort sorted sorting 2026 42 , . foo-bar",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "id long, text string"
    )
    tok = train_bpe(df, num_merges=20)
    assert tok.merges == train_bpe_from_counts(_counts(corpus), 20)


def test_train_bpe_word_type_cut_is_deterministic(spark):
    """max_word_types keeps the most frequent types with ties to the
    lexicographically smaller word — the cut (and so the merges) is a
    pure function of the corpus."""
    corpus = ["aa aa aa bb bb cc cc dd ee ff"]
    df = spark.createDataFrame([(0, corpus[0])], "id long, text string")
    tok = train_bpe(df, num_merges=5, max_word_types=4)
    # kept types: aa(3), bb(2), cc(2), dd(1) — dd < ee < ff at count 1
    exp = train_bpe_from_counts({"aa": 3, "bb": 2, "cc": 2, "dd": 1}, 5)
    assert tok.merges == exp
    # and repartitioning the corpus must not change the result
    df8 = spark.createDataFrame(
        [(i, w) for i, w in enumerate(corpus[0].split())],
        "id long, text string",
    ).repartition(8)
    assert train_bpe(df8, num_merges=5, max_word_types=4).merges == exp


def test_train_bpe_min_count(spark):
    df = spark.createDataFrame(
        [(0, "ab ab ab xy")], "id long, text string"
    )
    tok = train_bpe(df, num_merges=5, min_count=2)
    assert tok.merges == [("a", "b")]  # xy filtered before training


# ---------------------------------------------------------------------------
# distributed apply


def test_pretokens_jvm_matches_python_regex(spark):
    """The JVM pre-tokenizer (the production split) and the test-local
    Python twin agree on adversarial inputs — tabs, VT, unicode symbols,
    digit runs, mixed alphanumerics."""
    rows = [
        (0, "plain words here"),
        (1, "tabs\there\x0bvt\fff\rcr\nnl"),
        (2, "abc123def 42x 1,234.56"),
        (3, "café … – né日本"),
        (4, "a-b_c@d!e"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.ws
        for r in df.select(
            "doc_id", pretokens(F.col("text")).alias("ws")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == _BPE_PY.findall(t), (i, t)


def test_tokenize_and_count_match_pure_encode(spark):
    corpus = ["low lower lowest", "new newest widest", "low low newest"]
    fixture = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=12)
    rows = [
        (0, "lowest newest something"),
        (1, None),
        (2, ""),
        (3, "low-cost, wide."),
        (4, "café lowest"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.bpe_tokens, r.n_tokens_bpe)
        for r in bpe_token_count(tokenize_bpe(df, tok), tok).collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i] == (None, None)
            continue
        exp: list[str] = []
        for w in _BPE_PY.findall(t):
            exp.extend(tok.encode(w))
        assert got[i][0] == exp, (i, t)
        assert got[i][1] == len(exp), (i, t)


def test_learned_counts_differ_from_regex_proxy(spark):
    """The point of the upgrade: a trained tokenizer compresses frequent
    words to fewer tokens than characters but more structure than the
    one-token-per-word proxy can see — the two counts genuinely differ."""
    from woe_monotonic_binning_spark.operators.text import token_count_bpe

    fixture = spark.createDataFrame(
        [(0, "tab tab tab tab le le le")], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=3)
    df = spark.createDataFrame([(0, "table unseen")], "doc_id long, text string")
    r = (
        bpe_token_count(df, tok)
        .select("n_tokens_bpe", token_count_bpe(F.col("text")).alias("proxy"))
        .collect()[0]
    )
    # proxy: 2 words.  learned: 'table' -> ['tab','le'] (2), 'unseen'
    # has no learned merges -> 6 singles; total 8.
    assert r.proxy == 2 and r.n_tokens_bpe == 8


def test_wiring_into_packing_and_budget(spark):
    """bpe_token_count output drops straight into pack_sequences and
    select_to_token_budget via token_col= — budget decisions ride the
    learned counts (verdict r14 wiring ask)."""
    from woe_monotonic_binning_spark.operators.packing import pack_sequences
    from woe_monotonic_binning_spark.operators.sampling import (
        select_to_token_budget,
    )

    fixture = spark.createDataFrame(
        [(0, "aaa aaa aab abb")], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=4)
    docs = spark.createDataFrame(
        [(i, "src0", "aaa aab abb xyz"[: 4 * (1 + i % 4)]) for i in range(12)],
        "doc_id long, source string, text string",
    )
    counted = bpe_token_count(docs, tok)
    packed = pack_sequences(counted, token_col="n_tokens_bpe", budget=6)
    member_sums = (
        packed.where(~F.col("oversize"))
        .groupBy("pack_id")
        .agg(F.sum("tokens").alias("s"))
        .collect()
    )
    assert member_sums and all(r.s <= 6 for r in member_sums)
    picked = select_to_token_budget(
        counted, {"src0": 10.0}, token_col="n_tokens_bpe"
    )
    assert 0 < picked.count() < 12


def test_fixture_is_order_sensitive():
    """Guards the certification against fixture drift: the q_token_budget
    'bpe' fixture corpus must learn COMPETING merges on the documents
    vocabulary — otherwise every encode is order-insensitive and the
    merge-order mutants in test_oracle_sensitivity.py pass vacuously.
    Pins that reversing the merge list changes the encoding of at least
    two corpus words the sf tables actually contain."""
    import queries_catalog as qc

    merges = qc._bpe_fixture_merges()
    assert len(merges) == qc._BPE_FIXTURE_MERGES
    base = BPETokenizer(merges)
    rev = BPETokenizer(list(reversed(merges)))
    doc_vocab = ["fast", "query", "window", "scan", "table", "stream",
                 "value", "group", "merge", "sort"]
    changed = [w for w in doc_vocab if base.encode(w) != rev.encode(w)]
    assert len(changed) >= 2, changed


def test_tokenizer_cache_consistency():
    """The executor-side cache kernel returns the same lists as direct
    encoding (cache key is the whole word)."""
    from woe_monotonic_binning_spark.operators.tokenizer import _cached

    tok = BPETokenizer(train_bpe_from_counts({"abab": 5, "abc": 4}, 6))
    enc = _cached(tok.encode)
    for w in ("abab", "abc", "abab", "xyz", "abc"):
        assert enc(w) == tok.encode(w)


def test_curate_corpus_accepts_trained_tokenizer(spark):
    """curate_corpus(bpe_tokenizer=) meters token budgets with learned
    counts: under a tight budget, the learned counts (fewer tokens per
    doc than character count, more than word count) admit a different
    prefix than the regex proxy would — here we just pin that the wiring
    runs end-to-end and that admission uses the learned counts."""
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    fixture = spark.createDataFrame(
        [(0, "alpha alpha alpha beta beta")], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=8)
    docs = spark.createDataFrame(
        [
            (i, "src0", f"alpha beta doc{i} " * (1 + i % 3))
            for i in range(20)
        ],
        "doc_id long, source string, text string",
    )
    out = curate_corpus(
        docs,
        near_dup=None,
        quality_threshold=0.0,
        weights=None,
        token_budgets={"src0": 40.0},
        bpe_tokenizer=tok,
        cache_survivors=False,
    )
    picked = out.count()
    assert 0 < picked < 20


def test_tokenize_streams_unchanged(spark, tmp_path):
    """The apply kernel is a stateless Arrow projection: the SAME
    bpe_token_count call on a Structured Streaming source produces
    byte-identical counts to the batch run (ingest-time tokenization)."""
    fixture = spark.createDataFrame(
        [(0, "stream stream streams streaming batch batches")],
        "id long, text string",
    )
    tok = train_bpe(fixture, num_merges=10)
    docs = spark.createDataFrame(
        [(i, f"stream batch {i} streaming") for i in range(40)],
        "doc_id long, text string",
    )
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        bpe_token_count(stream, tok)
        .select("doc_id", "n_tokens_bpe")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.doc_id: r.n_tokens_bpe for r in spark.read.parquet(out).collect()
    }
    exp = {
        r.doc_id: r.n_tokens_bpe
        for r in bpe_token_count(docs, tok).collect()
    }
    assert got == exp


def test_token_id_space_deterministic_and_unk():
    """The id space is a pure function of the artifact: unk=0, sorted
    single chars from 1, merge tokens in rank order; out-of-alphabet
    characters encode to UNK_ID; save/load round-trips the alphabet."""
    from woe_monotonic_binning_spark.operators.tokenizer import UNK_ID

    tok = BPETokenizer(
        train_bpe_from_counts({"abab": 5, "abc": 4}, 4),
        alphabet=["a", "b", "c"],
    )
    assert tok.token_to_id["<unk>"] == UNK_ID == 0
    assert (tok.token_to_id["a"], tok.token_to_id["b"],
            tok.token_to_id["c"]) == (1, 2, 3)
    # merge tokens follow in rank order
    first_merge = tok.merges[0]
    assert tok.token_to_id[first_merge[0] + first_merge[1]] == 4
    assert tok.vocab_size() == 4 + len(
        {a + b for a, b in tok.merges}
    )
    # 'z' was never in the alphabet -> UNK
    assert tok.encode_ids("za") [0] == UNK_ID
    assert all(i > 0 for i in tok.encode_ids("abab"))


def test_token_id_roundtrip_save_load(tmp_path):
    tok = BPETokenizer(
        train_bpe_from_counts({"table": 4, "tables": 3}, 6),
        alphabet=list("tables"),
    )
    p = str(tmp_path / "bpe2.json")
    tok.save(p)
    tok2 = BPETokenizer.load(p)
    assert tok2.token_to_id == tok.token_to_id
    assert tok2.alphabet == tok.alphabet


def test_tokenize_ids_matches_pure_encode(spark):
    fixture = spark.createDataFrame(
        [(0, "low lower lowest low lowest")], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=8)
    rows = [(0, "lowest zq low"), (1, None), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from woe_monotonic_binning_spark.operators.tokenizer import tokenize_ids

    got = {r.doc_id: r.token_ids for r in tokenize_ids(df, tok).collect()}
    for i, t in rows:
        if t is None:
            assert got[i] is None
            continue
        exp = []
        for w in _BPE_PY.findall(t):
            exp.extend(tok.encode_ids(w))
        assert got[i] == exp, (i, t)
    # 'z'/'q' are out-of-alphabet -> explicit UNK zeros, never dropped
    assert 0 in got[0]


def test_materialize_pack_ids_end_to_end(spark):
    """The full real-token chain: train -> tokenize_ids -> count ->
    pack_sequences -> materialize_pack_ids: packed id sequences
    concatenate member docs in ascending-id order, optional sep_id
    delimits documents (never leading), n_tokens counts real ids."""
    from woe_monotonic_binning_spark.operators.packing import (
        materialize_pack_ids,
        pack_sequences,
    )
    from woe_monotonic_binning_spark.operators.tokenizer import tokenize_ids

    fixture = spark.createDataFrame(
        [(0, "aa ab aa ab ba ba")], "id long, text string"
    )
    tok = train_bpe(fixture, num_merges=4)
    docs = spark.createDataFrame(
        [(i, f"aa ab ba x{i}") for i in range(10)],
        "doc_id long, text string",
    )
    with_ids = bpe_token_count(tokenize_ids(docs, tok), tok)
    packed = pack_sequences(with_ids, token_col="n_tokens_bpe", budget=30)
    mat = materialize_pack_ids(with_ids, packed, sep_id=99).collect()
    pure = {
        r.doc_id: r.token_ids for r in tokenize_ids(docs, tok).collect()
    }
    for row in mat:
        exp: list[int] = []
        for j, d in enumerate(sorted(row.doc_ids)):
            if j:
                exp.append(99)
            exp.extend(pure[d])
        assert row.token_ids == exp, row
        assert row.n_tokens == sum(len(pure[d]) for d in row.doc_ids)
        assert row.n_docs == len(row.doc_ids)
    # every doc lands in exactly one pack
    assert sorted(d for r in mat for d in r.doc_ids) == list(range(10))
    # and without sep_id: plain concatenation
    mat2 = materialize_pack_ids(with_ids, packed).collect()
    for row in mat2:
        exp = [i for d in sorted(row.doc_ids) for i in pure[d]]
        assert row.token_ids == exp


def test_materialize_pack_ids_null_stream_fails_loudly(spark):
    """A member doc with a NULL token_ids array must name itself in the
    error (round-16 advice) — never silently NULL the pack's stream and
    feed size(NULL) = -1 into n_tokens."""
    import pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from woe_monotonic_binning_spark.operators.packing import (
        materialize_pack_ids,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(0, [1, 2, 3], 3), (1, None, 2), (2, [4, 5], 2)],
        "doc_id long, token_ids array<int>, n long",
    )
    packed = pack_sequences(docs, token_col="n", budget=100)
    with pytest.raises(Exception) as ei:
        materialize_pack_ids(docs, packed).collect()
    assert "token_ids is NULL for doc_id=1" in str(ei.value)


# -- round 16: byte-level BPE + special tokens + vocab_size -------------------


def test_byte_level_id_space_and_specials(spark):
    """GPT-2 layout: specials 0..k-1, then the 256 bytes in order, then
    merges; no unk exists — any unicode input encodes totally through
    its UTF-8 bytes; special ids are reservations the encoder never
    emits."""
    fixture = spark.createDataFrame(
        [(0, "table table tables scan scans café café")],
        "id long, text string",
    )
    tok = train_bpe(
        fixture, byte_level=True, num_merges=8,
        special_tokens=("<pad>", "<bos>", "<eos>"),
    )
    assert tok.special_token_id("<pad>") == 0
    assert tok.special_token_id("<eos>") == 2
    assert tok.token_to_id[chr(0)] == 3 and tok.token_to_id[chr(255)] == 258
    assert tok.unk_id is None
    # CJK: never seen in training, still encodes (3 raw UTF-8 bytes)
    ids = tok.encode_ids("漢")
    assert ids == [b + 3 for b in "漢".encode("utf-8")]
    # the encoder can never emit a special id
    assert all(i >= 3 for w in ("café", "table", "zzz9")
               for i in tok.encode_ids(w))
    import pytest
    with pytest.raises(KeyError):
        tok.special_token_id("<mask>")
    with pytest.raises(ValueError):
        BPETokenizer([], byte_level=True, special_tokens=("x",))
    with pytest.raises(ValueError):
        BPETokenizer([], special_tokens=("<unk>",))


def test_vocab_size_derives_merge_budget(spark):
    """vocab_size is the production knob: merges = vocab_size - specials
    - base (256 byte-level; |alphabet|+1 char-level); below base raises."""
    fixture = spark.createDataFrame(
        [(0, "aa ab aa ab ba ba ca ca da da ea ea fa fa")],
        "id long, text string",
    )
    tok = train_bpe(
        fixture, byte_level=True, vocab_size=256 + 2 + 5,
        special_tokens=("<pad>", "<eos>"),
    )
    assert len(tok.merges) <= 5 and tok.vocab_size() <= 263
    ctok = train_bpe(fixture, vocab_size=30)  # char-level: alphabet+1+m
    base = len(ctok.alphabet) + 1
    assert len(ctok.merges) <= 30 - base
    import pytest
    with pytest.raises(ValueError):
        train_bpe(fixture, byte_level=True, vocab_size=100)


def test_byte_level_spark_apply_matches_driver_encode(spark):
    """tokenize_bpe / tokenize_ids / bpe_token_count agree with the
    driver artifact word-by-word under byte level, including multi-byte
    UTF-8 pre-tokens (which the shared pre-tokenizer splits at the
    non-ASCII boundary)."""
    fixture = spark.createDataFrame(
        [(i, s) for i, s in enumerate(
            ["table tables scanner scanning", "café caffé scan table"]
        )],
        "id long, text string",
    )
    tok = train_bpe(fixture, byte_level=True, num_merges=12,
                    special_tokens=("<eos>",))
    docs = spark.createDataFrame(
        [(0, "table café 42"), (1, "scanner漢x")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in bpe_token_count(
            tokenize_ids(tokenize_bpe(docs, tok), tok), tok
        ).collect()
    }
    import re
    from woe_monotonic_binning_spark.operators.text import _BPE_RE
    for i, text in [(0, "table café 42"), (1, "scanner漢x")]:
        words = re.findall(_BPE_RE, text)
        toks = [t for w in words for t in tok.encode(w)]
        ids = [x for w in words for x in tok.encode_ids(w)]
        assert got[i].bpe_tokens == toks, (i, got[i].bpe_tokens, toks)
        assert got[i].token_ids == ids
        assert got[i].n_tokens_bpe == len(toks)


def test_byte_level_save_load_and_pack_sep(spark, tmp_path):
    """Artifact round-trip keeps byte level + specials; the reserved eos
    id drives materialize_pack_ids(sep_id=) — the train->tokenize->pack
    chain on reserved separators."""
    from woe_monotonic_binning_spark.operators.packing import (
        materialize_pack_ids,
        pack_sequences,
    )

    fixture = spark.createDataFrame(
        [(0, "pack packs packed packing run runs running")],
        "id long, text string",
    )
    tok = train_bpe(fixture, byte_level=True, num_merges=6,
                    special_tokens=("<pad>", "<bos>", "<eos>"))
    p = tmp_path / "tok.json"
    tok.save(str(p))
    tok2 = BPETokenizer.load(str(p))
    assert tok2 == tok and tok2.byte_level
    assert tok2.special_token_id("<eos>") == tok.special_token_id("<eos>")

    docs = spark.createDataFrame(
        [(i, f"pack run {i}") for i in range(6)], "doc_id long, text string"
    )
    with_ids = bpe_token_count(tokenize_ids(docs, tok2), tok2)
    packed = pack_sequences(with_ids, token_col="n_tokens_bpe", budget=64)
    eos = tok2.special_token_id("<eos>")
    mat = materialize_pack_ids(with_ids, packed, sep_id=eos).collect()
    pure = {r.doc_id: r.token_ids for r in tokenize_ids(docs, tok2).collect()}
    for row in mat:
        exp = []
        for j, d in enumerate(sorted(row.doc_ids)):
            if j:
                exp.append(eos)
            exp.extend(pure[d])
        assert row.token_ids == exp
        # the separator id never collides with a real token id
        assert all(x != eos for ids in (pure[d] for d in row.doc_ids)
                   for x in ids)


def test_hf_tokenizer_json_export(spark, tmp_path):
    """to_hf_tokenizer_json: valid tokenizers-schema JSON — same id
    space, GPT-2 byte rendering for byte-level vocabs (the ByteLevel
    decoder's inverse), merges in rank order, specials as added_tokens,
    the engine's exact pre-tokenizer regex."""
    import json

    from woe_monotonic_binning_spark.operators.tokenizer import (
        _gpt2_byte_to_unicode,
    )

    table = _gpt2_byte_to_unicode()
    assert table[ord("A")] == "A" and table[0x20] == "Ġ"
    assert table[0x00] == chr(256) and len(set(table.values())) == 256

    fixture = spark.createDataFrame(
        [(0, "table tables café café scan scans")], "id long, text string"
    )
    tok = train_bpe(fixture, byte_level=True, num_merges=8,
                    special_tokens=("<pad>", "<eos>"))
    p = tmp_path / "hf.json"
    tok.to_hf_tokenizer_json(str(p))
    doc = json.loads(p.read_text())
    assert doc["model"]["type"] == "BPE"
    assert doc["model"]["unk_token"] is None
    assert doc["decoder"]["type"] == "ByteLevel"
    # byte-level pre-tokenization must byte-map pre-tokens AFTER the
    # split (round-17 advice): Sequence[Split(ours), ByteLevel]
    assert doc["pre_tokenizer"]["type"] == "Sequence"
    split, bl = doc["pre_tokenizer"]["pretokenizers"]
    assert split["type"] == "Split" and split["invert"] is True
    assert bl["type"] == "ByteLevel"
    assert bl["add_prefix_space"] is False and bl["use_regex"] is False
    vocab = doc["model"]["vocab"]
    # id space identical; proxy bytes re-rendered through the table
    assert vocab["<pad>"] == 0 and vocab["<eos>"] == 1
    assert len(vocab) == tok.vocab_size()
    assert set(vocab.values()) == set(range(tok.vocab_size()))
    for t, i in tok.token_to_id.items():
        if t in ("<pad>", "<eos>"):
            continue
        assert vocab["".join(table[ord(c)] for c in t)] == i
    assert len(doc["model"]["merges"]) == len(tok.merges)
    a, b = tok.merges[0]
    assert doc["model"]["merges"][0] == (
        "".join(table[ord(c)] for c in a) + " "
        + "".join(table[ord(c)] for c in b)
    )
    assert {t["content"] for t in doc["added_tokens"]} == {"<pad>", "<eos>"}

    # char-level: tokens verbatim, unk declared, no byte decoder
    ctok = train_bpe(fixture, num_merges=4)
    p2 = tmp_path / "hf_char.json"
    ctok.to_hf_tokenizer_json(str(p2))
    doc2 = json.loads(p2.read_text())
    assert doc2["model"]["unk_token"] == "<unk>"
    assert doc2["decoder"] is None
    assert doc2["pre_tokenizer"]["type"] == "Split"
    assert doc2["model"]["vocab"]["<unk>"] == 0
    for t, i in ctok.token_to_id.items():
        assert doc2["model"]["vocab"][t] == i


def _simulate_hf_encode(doc: dict, text: str) -> list[int]:
    """Execute the exported byte-level tokenizers JSON the way the HF
    pipeline would, in pure Python: Split on the exported regex
    (invert=true == extract-all), ByteLevel-map each pre-token (UTF-8
    bytes through the GPT-2 byte-to-unicode table — what
    ByteLevel(use_regex=false) does), then greedy lowest-rank BPE over
    the exported merges, ids from the exported vocab.  The simulation
    reads ONLY the JSON doc — any export drift from engine semantics
    shows up as an id mismatch."""
    import re

    from woe_monotonic_binning_spark.operators.tokenizer import (
        _gpt2_byte_to_unicode, encode_word,
    )

    split, bl = doc["pre_tokenizer"]["pretokenizers"]
    assert bl["type"] == "ByteLevel"
    table = _gpt2_byte_to_unicode()
    vocab = doc["model"]["vocab"]
    # rendered tokens never contain ' ' (0x20 renders to 'Ġ'), so the
    # HF "a b" merge-line split on the single space is unambiguous
    ranks = {}
    for i, line in enumerate(doc["model"]["merges"]):
        a, b = line.split(" ")
        ranks[(a, b)] = i
    ids: list[int] = []
    for pre in re.findall(split["pattern"]["Regex"], text):
        mapped = "".join(table[b] for b in pre.encode("utf-8"))
        for t in encode_word(mapped, ranks):
            ids.append(vocab[t])  # total: byte-level has no unk
    return ids


def test_hf_export_byte_level_roundtrip_ids(spark, tmp_path):
    """The 'SAME ids' contract over non-ASCII input (round-17 advice):
    executing the exported JSON under HF ByteLevel semantics reproduces
    the engine's tokenize_ids stream exactly — including multi-byte
    UTF-8 ('é' must hit the 0xC3 0xA9 pair, never a raw 0xE9 token) and
    characters never seen in training (total byte alphabet, no drops)."""
    import json

    fixture = spark.createDataFrame(
        [(0, "café café crème crème naïve touché touché 12 šž")],
        "id long, text string",
    )
    tok = train_bpe(fixture, byte_level=True, num_merges=12,
                    special_tokens=("<pad>", "<eos>"))
    p = tmp_path / "hf_rt.json"
    tok.to_hf_tokenizer_json(str(p))
    doc = json.loads(p.read_text())

    probes = [
        "café touché",          # trained non-ASCII
        "crème brûlée où?",     # partly unseen accents
        "héllo wörld 42",       # unseen chars — must not drop
        "日本語 test",           # 3-byte UTF-8, fully unseen
        "plain ascii words",
    ]
    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(probes)], "id long, text string"
    )
    engine = {
        r.id: list(r.token_ids)
        for r in tokenize_ids(pdf, tok).select("id", "token_ids").collect()
    }
    from woe_monotonic_binning_spark.operators.text import _BPE_RE
    from woe_monotonic_binning_spark.operators.tokenizer import (
        _gpt2_byte_to_unicode,
    )

    inv = {v: k for k, v in doc["model"]["vocab"].items()}
    rev = {v: k for k, v in _gpt2_byte_to_unicode().items()}
    for i, text in enumerate(probes):
        sim = _simulate_hf_encode(doc, text)
        assert sim == engine[i], (text, sim, engine[i])
        # every byte is accounted for: decoding ids back through the
        # rendered vocab recovers the exact UTF-8 bytes of the pre-tokens
        got_bytes = bytes(rev[c] for tid in sim for c in inv[tid])
        want = "".join(re.findall(_BPE_RE, text)).encode("utf-8")
        assert got_bytes == want, text


def test_hf_export_loads_in_tokenizers_library(spark, tmp_path):
    """Real-library round-trip (runs only where the optional
    ``tokenizers`` package is installed; the simulation test above pins
    the same contract everywhere)."""
    pytest.importorskip("tokenizers")
    import json

    from tokenizers import Tokenizer

    fixture = spark.createDataFrame(
        [(0, "café café crème crème touché touché")], "id long, text string"
    )
    tok = train_bpe(fixture, byte_level=True, num_merges=10,
                    special_tokens=("<pad>", "<eos>"))
    p = tmp_path / "hf_lib.json"
    tok.to_hf_tokenizer_json(str(p))
    hf = Tokenizer.from_file(str(p))
    probes = ["café touché", "héllo wörld", "日本語 test"]
    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(probes)], "id long, text string"
    )
    engine = {
        r.id: list(r.token_ids)
        for r in tokenize_ids(pdf, tok).select("id", "token_ids").collect()
    }
    for i, text in enumerate(probes):
        assert hf.encode(text).ids == engine[i], text


# -- round 17: SentencePiece-style unigram tokenizer -------------------------

from woe_monotonic_binning_spark.operators.tokenizer import (  # noqa: E402
    UnigramTokenizer,
    tokenize_unigram,
    train_unigram,
    train_unigram_from_counts,
    viterbi_segment,
)


def test_viterbi_beats_greedy_and_tiebreaks():
    """Viterbi returns the maximum-likelihood segmentation, not the
    longest-match one; exact ties resolve by fewer pieces, then the
    chr(1)-joined string ascending."""
    # 'abc' as a piece is CHEAP to have but expensive to use: greedy
    # longest-match would take it; Viterbi must prefer 'ab' + 'c'
    table = {
        "a": -3_000_000, "b": -3_000_000, "c": -1_000_000,
        "ab": -2_000_000, "abc": -10_000_000,
    }
    pieces, lp = viterbi_segment("abc", table, 3)
    assert pieces == ["ab", "c"] and lp == -3_000_000
    # tie on logp: 'ab'+'c' (2 pieces) beats 'a'+'b'+'c' if equal mass
    t2 = {"a": -1_000_000, "b": -1_000_000, "c": -1_000_000,
          "ab": -2_000_000}
    p2, lp2 = viterbi_segment("abc", t2, 2)
    assert p2 == ["ab", "c"] and lp2 == -3_000_000
    # tie on logp AND piece count: smallest joined string wins
    t3 = {"a": -1_000_000, "b": -2_000_000, "ab": -1_500_000,
          "bc": -1_500_000, "c": -2_000_000}
    p3, _ = viterbi_segment("abc", t3, 2)
    # 'ab'+'c' vs 'a'+'bc': both -3_500_000, both 2 pieces;
    # 'a\x01bc' < 'ab\x01c' (chr(1) sorts below 'b')
    assert p3 == ["a", "bc"]
    # OOV char: segments as itself at the documented floor
    p4, lp4 = viterbi_segment("axb", {"a": -1, "b": -1}, 2)
    assert p4 == ["a", "x", "b"] and lp4 == -2 - 20_723_266


def test_train_unigram_deterministic_and_bounded():
    counts = {"table": 10, "tables": 6, "scan": 8, "scans": 4,
              "window": 6, "windows": 3, "fast": 5, "faster": 3}
    a = train_unigram_from_counts(counts, vocab_size=25, max_piece_len=6)
    b = train_unigram_from_counts(counts, vocab_size=25, max_piece_len=6)
    assert a == b and len(a) <= 25
    # every training character survives (totality)
    chars = {ch for w in counts for ch in w}
    assert chars <= set(a)
    # useful multi-char pieces were learned
    assert any(len(p) > 1 for p in a)
    with pytest.raises(ValueError, match="alphabet"):
        train_unigram_from_counts(counts, vocab_size=3)


def test_unigram_distributed_train_matches_pure_python(spark):
    """The distributed word-count front end + hard-EM loop equals the
    import-time pure-Python twin on the shared fixture corpus (the
    certification prerequisite, mirroring the BPE pinning)."""
    import queries_catalog as qc

    fixture = spark.createDataFrame(
        [(i, s) for i, s in enumerate(qc._BPE_FIXTURE_CORPUS)],
        "id long, text string",
    )
    dist = train_unigram(
        fixture, vocab_size=qc._UNIGRAM_VOCAB,
        max_piece_len=qc._UNIGRAM_MAX_PIECE, seed_size=qc._UNIGRAM_SEED,
    )
    pure = qc._unigram_fixture_tokenizer()
    assert dist.piece_logp == pure.piece_logp


def test_tokenize_unigram_apply_and_logp(spark):
    counts = {"table": 10, "tables": 6, "scan": 8, "window": 6}
    tok = UnigramTokenizer(
        train_unigram_from_counts(counts, vocab_size=20, max_piece_len=6),
        max_piece_len=6,
    )
    df = spark.createDataFrame(
        [(0, "table scan 42"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in tokenize_unigram(
        df, tok, with_logp=True
    ).collect()}
    want0 = []
    lp0 = 0
    for w in ("table", "scan", "42"):
        p, l = tok.encode_with_logp(w)
        want0.extend(p)
        lp0 += l
    assert got[0].unigram_tokens == want0
    assert got[0].unigram_tokens_logp == lp0
    assert got[1].unigram_tokens is None and got[1].unigram_tokens_logp is None
    assert got[2].unigram_tokens == [] and got[2].unigram_tokens_logp == 0


def test_unigram_save_load_and_ids(tmp_path):
    counts = {"scan": 5, "scans": 3}
    tok = UnigramTokenizer(
        train_unigram_from_counts(counts, vocab_size=12, max_piece_len=5),
        max_piece_len=5,
    )
    p = str(tmp_path / "uni.json")
    tok.save(p)
    tok2 = UnigramTokenizer.load(p)
    assert tok2.piece_logp == tok.piece_logp
    assert tok2.token_to_id == tok.token_to_id
    ids = tok.encode_ids("scans")
    assert all(i > 0 for i in ids)  # in-vocab pieces, no unk
    assert tok.encode_ids("zz") == [tok.unk_id] * 2
    with pytest.raises(ValueError, match="empty"):
        UnigramTokenizer({})


def test_unigram_token_count_and_budget_wiring(spark):
    """unigram_token_count matches the per-word Viterbi piece counts
    and slots into curate_corpus's budget metering via the
    bpe_tokenizer= parameter (type-dispatched)."""
    from woe_monotonic_binning_spark.operators.tokenizer import (
        unigram_token_count,
    )
    from woe_monotonic_binning_spark.pipeline import curate_corpus

    counts = {"table": 10, "tables": 6, "scan": 8, "window": 6}
    tok = UnigramTokenizer(
        train_unigram_from_counts(counts, vocab_size=20, max_piece_len=6),
        max_piece_len=6,
    )
    df = spark.createDataFrame(
        [(0, "table scan 42"), (1, None), (2, "window windowing")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_tokens_unigram
           for r in unigram_token_count(df, tok).collect()}
    exp0 = sum(len(tok.encode(w)) for w in ("table", "scan", "42"))
    exp2 = sum(len(tok.encode(w)) for w in ("window", "windowing"))
    assert got == {0: exp0, 1: None, 2: exp2}
    docs = spark.createDataFrame(
        [(i, f"table scan window {i}", "src0") for i in range(12)],
        "doc_id long, text string, source string",
    )
    out = curate_corpus(
        docs, quality_threshold=0.0, near_dup=None, cache_survivors=False,
        token_budgets={"src0": 20.0}, bpe_tokenizer=tok,
    )
    n = out.count()
    assert 0 < n < 12  # the budget genuinely cut on unigram counts


def test_unigram_hf_export_schema(spark, tmp_path):
    """to_hf_tokenizer_json (Unigram model): vocab in this tokenizer's
    id order with <unk> at unk_id 0, micro-nats scaled to float
    log-probs, the engine's exact pre-tokenizer regex."""
    import json

    counts = {"scan": 8, "scans": 5, "scanner": 3}
    tok = UnigramTokenizer(
        train_unigram_from_counts(counts, vocab_size=15, max_piece_len=6),
        max_piece_len=6,
    )
    p = str(tmp_path / "uni_hf.json")
    tok.to_hf_tokenizer_json(p)
    doc = json.loads(open(p).read())
    assert doc["model"]["type"] == "Unigram"
    assert doc["model"]["unk_id"] == 0
    vocab = doc["model"]["vocab"]
    assert vocab[0][0] == "<unk>"
    # id order identical to token_to_id
    for i, (piece, lp) in enumerate(vocab):
        assert tok.token_to_id[piece] == i
        if piece != "<unk>":
            assert abs(lp * 1_000_000 - tok.piece_logp[piece]) < 1
    assert doc["pre_tokenizer"]["invert"] is True

    lib = pytest.importorskip("tokenizers")
    hf = lib.Tokenizer.from_file(p)
    for w in ("scans", "scanner", "scan"):
        assert hf.encode(w).ids == tok.encode_ids(w), w

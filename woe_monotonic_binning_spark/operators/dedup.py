"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB corpus, 1000 executors):
- Exact dedup is one hash aggregation on a digest — never shuffles raw text.
- MinHash-LSH shuffles only (band_id, band_hash, doc_id) tuples; candidate
  verification joins back to shingle sets by doc_id.  Bucket skew (a band
  hash shared by millions of docs) is the classic failure mode — buckets are
  capped via a count filter before the self-join, and AQE skew-join handles
  the rest.
- SimHash stores one 64-bit fingerprint per doc; near-dup at hamming
  distance <= 3 probes 4 16-bit band tables (pigeonhole), again joining only
  on small keys.
- All-pairs operators (n-gram Jaccard, embedding cosine) are quadratic and
  must be blocked; the block key is a parameter.
"""

from __future__ import annotations

import logging
import re
import sys
import warnings

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .._cache import generate_barrier, materialize_and_release
from ..functions.vector import cosine_from_norms, norm
from .text import WS_CHARS as _WS_CHARS

MERSENNE_31 = 2_147_483_647  # 2^31 - 1, prime; keeps a*h+b inside int64

_log = logging.getLogger(__name__)


class _DefaultCap(int):
    """Int subclass marking a cap value as the LIBRARY DEFAULT rather than a
    caller's explicit choice: behaves exactly like its int value everywhere,
    but lets ``embedding_neardup_pairs`` warn when the default cap actually
    truncates a block — an explicit ``max_block=1_000`` stays silent
    (round-10 advice: silent recall regressions in existing pipelines must
    surface at call time, without nagging callers who opted in)."""


DEFAULT_MAX_BLOCK = _DefaultCap(1_000)


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One row per distinct key: the minimal id and the duplicate count.

    The aggregation runs partial map-side; for wide text keys, group on
    ``sha2(text, 256)`` instead so the shuffle carries 32-byte digests.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_dups")
    )


def exact_dedup_by_digest(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    digest = F.sha2(F.col(text_col).cast("binary"), 256).alias("digest")
    return (
        df.select(digest, id_col)
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def dedup_against_reference(
    new_df: DataFrame,
    reference_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: drop every new document whose content
    digest already exists in a previously-curated corpus, then drop
    duplicates WITHIN the new batch (keeping the min id) — the batch twin
    of ``streaming_exact_dedup`` for snapshot-over-snapshot crawls.

    ``reference_digests`` is a (digest) table, typically the persisted
    output of ``exact_dedup_by_digest`` over the existing corpus — at
    100 TB you store the 32-byte digest column partitioned/bucketed by
    digest prefix and feed it here; the anti-join shuffles digests only
    (never text), AQE picks broadcast when a small reference allows it.
    Column contract: any extra columns on ``reference_digests`` are
    ignored; only ``digest`` is read."""
    new_d = new_df.withColumn(
        "__digest", F.sha2(F.col(text_col).cast("binary"), 256)
    )
    fresh = new_d.join(
        reference_digests.select(F.col("digest").alias("__digest")),
        "__digest",
        "left_anti",
    )
    first = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return fresh.join(first, [id_col, "__digest"], "left_semi").drop("__digest")


def shingled(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, unit: str = "word"
) -> DataFrame:
    """(id, distinct shingle array) with text normalised like ``fingerprint``.

    ``unit='word'`` (default) emits word n-grams — the standard choice for
    text dedup: unrelated documents share almost no exact n-word sequences,
    so LSH buckets stay sparse and candidate counts near-linear, while an
    edited copy still shares most shingles.  ``unit='char'`` emits character
    n-grams (higher recall on short strings, but on topically-similar
    corpora every pair looks alike and the candidate join goes quadratic —
    exactly what the sf0.1 bench showed before the switch).
    """
    if unit not in ("word", "char"):
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    # explicit ASCII class, not \s (round-13): identical under Java and
    # RE2 so VT-bearing text shingles the same as the oracle twins
    normal = F.regexp_replace(F.trim(F.lower(F.col(text_col))), f"[{_WS_CHARS}]+", " ")
    if unit == "char":
        expr = (
            f"array_distinct(transform(sequence(1, greatest(length(__normal), {n}) - {n} + 1), "
            f"i -> substring(__normal, i, {n})))"
        )
        return df.select(F.col(id_col), normal.alias("__normal")).select(
            F.col(id_col), F.expr(expr).alias("shingles")
        )
    # Gram construction via concat_ws over direct element references
    # (round 17, guide §1.2 "per-task work"): the former
    # array_join(slice(__words, i, n), ' ') allocated an n-element array
    # per gram position and looped it in array_join; concat_ws reads the
    # n words straight out of the backing array (measured ~25% off the
    # sf0.1 shingle pass, which sits inside FOUR headlines).  Values are
    # byte-identical — pinned by
    # tests/test_operators.py::test_shingled_concat_ws_matches_slice_join
    # including the NULL-text and size<=n edges: the IF's ELSE branch
    # (whole-array join, [NULL] for NULL text) reproduces the old
    # greatest()-clamped sequence exactly, and element_at indices in the
    # THEN branch are always in [1, size] so ANSI mode cannot throw.
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(__words, i + {j})" for j in range(n)
    ) + ")"
    expr = (
        f"IF(size(__words) > {n}, "
        f"array_distinct(transform(sequence(1, size(__words) - {n} + 1), i -> {gram})), "
        f"array(array_join(__words, ' ')))"
    )
    return df.select(F.col(id_col), F.split(normal, " ").alias("__words")).select(
        F.col(id_col), F.expr(expr).alias("shingles")
    )


def minhash_signatures(
    shingle_df: DataFrame, id_col: str, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """MinHash signature per document, computed with one nested HOF.

    Each of the ``num_hashes`` permutations is ``(a_i * h + b_i) mod p`` over
    a 31-bit base hash of the shingle (xxhash64 folded into [0, p)), so the
    arithmetic stays inside int64 under ANSI mode.  No Python, no shuffle.

    Single fold (round 17, guide §1.2 "per-task work"): one ``aggregate``
    pass over the shingle hashes carrying all ``num_hashes`` running minima
    in a ``zip_with`` accumulator — the same shape as the SimHash bit fold —
    instead of ``num_hashes`` separate ``array_min(transform(...))`` passes
    that each allocate an intermediate array the length of the shingle set.
    Measured 0.68 -> 0.45 s on the sf0.1 signature pass; values bit-equal
    (pinned by
    tests/test_operators.py::test_minhash_single_fold_matches_per_perm).
    An empty shingle array yields all-NULL signature rows exactly like the
    old ``array_min(empty)`` did (the IF guard; shingled() itself never
    emits an empty array, but this is a public API).
    """
    return _signatures_from_hashes(
        shingle_df.select(
            F.col(id_col),
            F.expr(
                f"transform(shingles, s -> pmod(xxhash64(s), {MERSENNE_31}))"
            ).alias("hashes"),
        ),
        id_col,
        num_hashes,
        seed,
    )


def _hashed_shingles(shingle_df: DataFrame, id_col: str) -> DataFrame:
    """(id, distinct 31-bit shingle hashes) — the narrow twin of a shingle
    table (round 18, guide §2.3 "shuffle fewer bytes").

    ``pmod(xxhash64(s), M31)`` is EXACTLY the base hash the MinHash
    permutations consume, so signatures computed from this table are
    bit-identical to signatures computed from the strings (min over the
    DISTINCT hash set equals min over the multiset).  Verification Jaccard
    over these sets equals string-set Jaccard unless two distinct shingles
    of a doc pair collide in the 31-bit space — a collision the signature
    and banding math had ALREADY conflated, so hashed-space verification is
    self-consistent with the candidates it verifies (see
    OPTIMIZATION_r18.md for the full argument; value parity pinned by
    tests/test_operators.py::test_minhash_hashed_shingle_pair_parity).
    An ~8-byte long replaces each 15-25 byte shingle string in the cache
    fill AND in the two shuffles of the verify join's shingle sides.
    """
    return shingle_df.select(
        F.col(id_col),
        F.expr(
            f"array_distinct(transform(shingles, s -> pmod(xxhash64(s), {MERSENNE_31})))"
        ).alias("shingles"),
    )


def _signatures_from_hashes(
    hash_df: DataFrame, id_col: str, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """Signature fold over pre-hashed shingles (column ``hashes``)."""
    import random

    rnd = random.Random(seed)
    a = [rnd.randrange(1, MERSENNE_31) for _ in range(num_hashes)]
    b = [rnd.randrange(0, MERSENNE_31) for _ in range(num_hashes)]
    a_lit = "array(" + ",".join(f"{x}L" for x in a) + ")"
    b_lit = "array(" + ",".join(f"{x}L" for x in b) + ")"
    ab = f"arrays_zip({a_lit}, {b_lit})"
    sig = (
        "IF(size(hashes) = 0, array_repeat(cast(NULL as bigint), {k}), "
        "aggregate(hashes, array_repeat({p}L, {k}), (acc, h) -> "
        "zip_with(acc, {ab}, (m, s) -> least(m, pmod(s['0'] * h + s['1'], {p})))))"
    ).format(k=num_hashes, ab=ab, p=MERSENNE_31)
    return hash_df.select(F.col(id_col), F.expr(sig).alias("signature"))


def _bucket_pairs(
    rows: DataFrame, keys: list[str], id_col: str, max_bucket: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(lazy distinct pairs ``(id_a, id_b)``, id_a < id_b; persisted band
    rows; persisted bucket counts) — the one capped-bucket pair core of
    MinHash LSH, the SimHash / dHash / aHash pigeonhole, SRP and embedding
    blocks.  ``rows`` holds one ``(id, *keys)`` row per document and band
    (or block); a bucket is one distinct ``keys`` value.  The caller
    verifies every candidate exactly and releases both persisted tables
    after its final materialization.

    Both tables are persisted because each is read three times (the
    counts by both self-join sides and the star; the rows by the counts
    and both sides) and Spark shares no subtrees across join branches:
    the rows would recompute the caller's signature lineage per read,
    the counts would re-run their shuffle aggregation (measured 2.22 ->
    2.03 s on the sf0.1 minhash end-to-end).  min(id) rides the count
    pass (round 17, guide §2.4), so the star needs no aggregation of its
    own.  Footprints: ~24 bytes x docs x bands, one row per bucket.

    Buckets of at most ``max_bucket`` rows self-join in full.  Over-cap
    buckets degrade to STAR candidates around the bucket's min-id anchor
    — O(k) pairs instead of O(k^2) — rather than being dropped (round-9
    skew smoke: one 2,500-doc hot cluster UNDER the old 10k cap cost 25x
    wall-clock in quadratic pair generation, and tuning the cap down then
    ZEROED recall for exactly that cluster).  A mutually-similar
    mega-cluster stays one connected component through its anchor; only
    non-transitive stragglers (similar to a member but not to the
    anchor) are missed."""
    banded = rows.persist()
    counts = banded.groupBy(*keys).agg(
        F.count("*").alias("n"), F.min(id_col).alias("__anchor")
    ).persist()
    banded_ok = banded.join(
        counts.filter(F.col("n") <= max_bucket).select(*keys), keys
    )
    left = banded_ok.alias("l")
    right = banded_ok.alias("r")
    pairs = left.join(
        right,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")],
    ).select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
    )
    star = (
        banded.join(
            counts.filter(F.col("n") > max_bucket).select(*keys, "__anchor"), keys
        )
        .filter(F.col(id_col) != F.col("__anchor"))
        .select(F.col("__anchor").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return pairs.unionByName(star).distinct(), banded, counts


def _lsh_candidate_pairs_lazy(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(lazy candidate-pair plan, persisted band table, persisted bucket
    counts) — the shared core of ``lsh_candidate_pairs`` and
    ``minhash_dedup_pairs``: slice each signature into ``bands`` band
    hashes and hand the ``(id, band, bh)`` rows to ``_bucket_pairs``.
    Returning the cache handles lets the composed pipeline release them
    after ITS final materialization instead of paying an extra eager
    localCheckpoint here (round-6 VERDICT item 3: two eager
    materializations per ``minhash_dedup_pairs`` call)."""
    if bands <= 0 or num_hashes % bands != 0:
        # a remainder silently ignored trailing signature rows, and
        # bands > num_hashes made every band slice EMPTY — all docs then
        # share one bucket per band, and the max_bucket cap either drops
        # every candidate (silent zero recall) or the join goes quadratic
        # (round-8 review)
        raise ValueError(
            f"bands ({bands}) must positively divide num_hashes "
            f"({num_hashes}) so every signature row lands in exactly one band"
        )
    rows_per_band = num_hashes // bands
    banded = sig_df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"named_struct('band', b, 'bh', xxhash64(cast(slice(signature, "
                f"b * {rows_per_band} + 1, {rows_per_band}) as string))))"
            )
        ).alias("e"),
    ).select(id_col, F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    return _bucket_pairs(banded, ["band", "bh"], id_col, max_bucket)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Banded LSH: equal band-slices -> candidate id pairs (id_a < id_b).

    Shuffles only (band, band_hash, id); buckets larger than ``max_bucket``
    degrade to O(k) STAR candidates around the bucket's min-id anchor (a
    10^6-doc bucket would otherwise create 10^12 pairs).

    **RECALL NOTE — default changed in round 9 (10_000 -> 1_000):**
    buckets of 1_001–10_000 docs that previously emitted the full
    verified pair set now emit only anchor-star candidates, so a true
    near-dup pair whose members are both dissimilar to the bucket's
    min-id anchor is missed — and because the anchor edge must still
    survive exact verification, such a pair can split into two connected
    components rather than merging through the anchor.  Pass
    ``max_bucket=10_000`` to restore the previous recall at the previous
    O(k²)-per-bucket cost (the round-9 skew smoke measured 25.7x wall on
    one 2,500-doc hot cluster under the old default).  Star mechanics:
    ``_bucket_pairs``.

    The pair table is eagerly materialized and the internal band and
    bucket-count tables are unpersisted before returning (see _cache.py).
    """
    return materialize_and_release(
        *_lsh_candidate_pairs_lazy(sig_df, id_col, num_hashes, bands, max_bucket)
    )


def jaccard_verify(
    pairs: DataFrame, shingle_df: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs via shingle-set intersection."""
    a = shingle_df.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = shingle_df.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _cosine_verify(
    ids: DataFrame, vecs: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, cosine) for the candidate ``ids`` pairs whose 6-dp
    cosine (``cosine_from_norms``, bit-identical to ``cosine_similarity``)
    reaches ``threshold``.  ``vecs`` must hold ONE vector per ``id_col``:
    it re-joins by ``id_a`` and then by ``id_b``, so a repeated id would
    repeat its pairs.  Norms are computed once per joined row, so a pair
    pays one array fold instead of three."""
    va = vecs.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        norm(F.col(vec_col)).alias("n_a"),
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        norm(F.col(vec_col)).alias("n_b"),
    )
    cos = cosine_from_norms(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b"))
    return (
        ids.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    shingle_unit: str = "word",
    max_bucket: int = 1_000,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    bucket-join -> Jaccard verify over 31-bit hashed shingle sets.

    **APPROXIMATION NOTE:** the verify step computes Jaccard over each
    document's set of 31-bit shingle hashes, not over the shingle strings.
    It can differ from string-set Jaccard when two distinct shingles of a
    pair collide in the 31-bit space — the same collisions the signatures
    and bands already conflate.

    ``max_bucket`` is the skew guard: an LSH band bucket holding k
    documents emits O(k^2) candidate pairs, so larger buckets degrade to
    Jaccard-verified anchor-star candidates; zipfian corpora tune it down
    (round-9 skew smoke: 2,500-doc hot cluster, 243 s quadratic vs 7 s
    capped at sf1).

    **RECALL NOTE (default 10_000 -> 1_000 in round 9):** buckets of
    1_001–10_000 docs now emit anchor-star candidates only — pairs whose
    members are both dissimilar to the bucket anchor are missed, and can
    split a component when the anchor edge fails verification.
    ``max_bucket=10_000`` restores the previous recall at the previous
    quadratic cost; see ``lsh_candidate_pairs`` for the full trade and
    ``_bucket_pairs`` for the star mechanics.

    The input is repartitioned to the session default parallelism before the
    shingle/signature HOFs: document corpora often arrive as a few large
    parquet files, and without the repartition the CPU-bound signature stage
    runs on as few cores as there are input splits.

    The verified pair table is eagerly materialized and the shingle/band
    caches are unpersisted before returning, so repeated calls in a
    long-lived session accumulate no SQL-cache storage (see _cache.py).
    That is the pipeline's ONLY eager materialization: the band caches are
    threaded out of ``_lsh_candidate_pairs_lazy`` and released with the
    shingle cache (round-6 VERDICT item 3).
    """
    sc = df.sparkSession.sparkContext
    narrow = df.select(id_col, text_col)
    if narrow.rdd.getNumPartitions() < sc.defaultParallelism:
        narrow = narrow.repartition(sc.defaultParallelism)
    # Cache the 31-bit HASHED shingle sets, not the strings (round 18,
    # guide §2.3): ~8 bytes/shingle instead of a 15-25 byte string in the
    # cache fill and in both shuffled sides of the verify join; signatures
    # are bit-identical by construction and verification Jaccard is
    # identical up to 31-bit collisions the signature math had already
    # conflated — see _hashed_shingles.
    sh = _hashed_shingles(
        shingled(narrow, text_col, id_col, shingle_n, shingle_unit), id_col
    ).cache()
    sigs = _signatures_from_hashes(
        sh.withColumnRenamed("shingles", "hashes"), id_col, num_hashes
    )
    cands, banded, counts = _lsh_candidate_pairs_lazy(
        sigs, id_col, num_hashes, bands, max_bucket=max_bucket
    )
    verified = jaccard_verify(cands, sh, id_col, threshold)
    return materialize_and_release(verified, sh, banded, counts)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard over all pairs within a block.

    Quadratic within blocks by construction — ``block_cols`` must bound the
    block size (e.g. language + length bucket).  SQL-expressible end to end,
    so it doubles as the oracle-checkable twin of the MinHash pipeline.

    The self-join carries a ``merge`` hint: both sides are the CORPUS
    (each row holds a document's full word array), so the join must never
    be planned as a broadcast — Spark's size estimate sees a small ROW
    count and under-sizes the word arrays, and the resulting
    corpus-as-broadcast plan times out the 300 s broadcast future at sf1
    (caught by the round-11 sweep) and is impossible at 100 TB.  The
    sort-merge join on the block key is the shape that scales.
    """
    words = F.array_distinct(
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    )
    base = df.select(F.col(id_col), *[F.col(c) for c in block_cols], words.alias("words"))
    a = base.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col("words").alias("w_a"),
    )
    b = base.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("words").alias("w_b"),
    )
    joined = a.hint("merge").join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("w_a", "w_b")).cast("double")
    union = F.size(F.array_union("w_a", "w_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document as an array of 4 16-bit band values.

    Bit j of the fingerprint is the sign of sum over tokens of
    (2*bit_j(xxhash64(token)) - 1).  Emitting the 4 bands directly (rather
    than one packed long) feeds the hamming-probe join without bit surgery.
    """
    # Single fold over the token hashes accumulating all 64 bit-counts at
    # once (zip_with on a 64-long accumulator) — one pass over the array,
    # versus the naive per-bit form (transform(sequence(0,63), j ->
    # aggregate(tok_hashes, ...))) that re-folds the token array 64 times.
    # Bit-for-bit equality with the naive form is pinned by
    # tests/test_operators.py::test_simhash_single_fold_matches_naive_per_bit.
    bit_sum = (
        "aggregate(tok_hashes, transform(sequence(0, 63), j -> 0L), "
        "(acc, h) -> zip_with(acc, sequence(0, 63), "
        "(a, j) -> a + IF(((h >> j) & 1) = 1, 1L, -1L)))"
    )
    bands = (
        "transform(sequence(0, 3), b -> "
        "aggregate(sequence(0, 15), 0L, (acc, j) -> acc + "
        "IF(element_at(bits, b * 16 + j + 1) > 0, shiftleft(1L, j), 0L)))"
    )
    return (
        df.select(
            F.col(id_col),
            F.expr("transform(" + f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)" + ", t -> xxhash64(t))").alias("tok_hashes"),
        )
        .select(F.col(id_col), F.expr(bit_sum).alias("bits"))
        .select(F.col(id_col), F.expr(bands).alias("sim_bands"))
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= max_hamming (pigeonhole on 4
    bands: any pair within distance 3 shares at least one exact band).

    The pair table is eagerly materialized and the fingerprint/band caches
    are unpersisted before returning (_cache.py).

    Band buckets larger than ``max_bucket`` degrade to hamming-verified
    anchor-star candidates, as in MinHash: one degenerate 16-bit band
    value shared by k docs (every empty text hashes its bands to 0) would
    otherwise create k^2 join rows on a single reducer.

    **RECALL NOTE (default 10_000 -> 1_000 in round 9):** band buckets of
    1_001–10_000 docs now emit anchor-star candidates only — a pair at
    hamming <= ``max_hamming`` whose members are both further than that
    from the bucket anchor is missed; ``max_bucket=10_000`` restores the
    previous recall at the previous quadratic cost (star mechanics:
    ``_bucket_pairs``).
    """
    sc = df.sparkSession.sparkContext
    narrow = df.select(id_col, text_col)
    if narrow.rdd.getNumPartitions() < sc.defaultParallelism:
        narrow = narrow.repartition(sc.defaultParallelism)
    fp = simhash_fingerprints(narrow, text_col, id_col).cache()
    return materialize_and_release(
        *_banded_near_pairs(fp, "sim_bands", id_col, max_hamming, max_bucket), fp
    )


def _hamming(a: str, b: str) -> Column:
    """Hamming distance of two band arrays: popcount of the per-band xor
    (also the streaming SimHash store's cross-batch verify)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)"
    )


def _banded_near_pairs(
    fp: DataFrame,
    bands_col: str,
    id_col: str,
    max_hamming: int,
    max_bucket: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(lazy verified pairs, persisted band rows, persisted bucket counts)
    — the pigeonhole core of ``simhash_near_pairs``, ``image_neardup_pairs``
    and ``audio_neardup_pairs``: ``fp`` is (id, bands) with ``bands_col``
    an array of equal-width band values whose concatenation is the
    fingerprint, so any pair within hamming distance < n_bands shares at
    least one exact band.  Id-only ``(id, band, bh)`` rows go through
    ``_bucket_pairs``, then the fingerprints join back once per side by id
    for the exact hamming verify (the ``jaccard_verify`` / SRP shape), so
    neither the band cache nor the candidate-dedup shuffle carries band
    arrays.  The caller owns ``fp``'s cache and releases all three."""
    cand, banded, counts = _bucket_pairs(
        fp.select(F.col(id_col), F.posexplode(bands_col).alias("band", "bh")),
        ["band", "bh"],
        id_col,
        max_bucket,
    )
    fa = fp.select(F.col(id_col).alias("id_a"), F.col(bands_col).alias("ba"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col(bands_col).alias("bb"))
    out = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", _hamming("ba", "bb").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return out, banded, counts


def image_neardup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket: int = 1_000,
    codec=None,
) -> DataFrame:
    """Perceptual image near-duplicate pairs (round 16, verdict item 2):
    64-bit difference hash (dHash) over the decoded raster, banded into
    4 x 16-bit pigeonholes through the same exact-band join + anchor-star
    machinery as ``simhash_near_pairs`` — any pair within hamming
    distance <= 3 is guaranteed a shared band; larger ``max_hamming``
    values verify whatever candidates banding still surfaces (recall
    degrades honestly, the SimHash contract).

    The hash rides ``multimodal.dhash_images`` (one embarrassingly
    parallel Arrow decode pass, no shuffle); rows whose payload cannot
    be decoded or is smaller than the 9x8 difference grid have NULL
    bands and take no part in pairing (an undecodable image is a
    separate quality signal, not a duplicate).  Two structurally equal
    images — whatever their byte encodings (PPM vs PNG vs JPEG of the
    same raster) — hash identically, which is the point: byte-level
    dedup cannot see re-encoded copies."""
    from .multimodal import dhash_images

    fp = (
        dhash_images(media, codec=codec)
        .where(F.col("dhash_bands").isNotNull())
        .select(id_col, "dhash_bands")
        .cache()
    )
    return materialize_and_release(
        *_banded_near_pairs(fp, "dhash_bands", id_col, max_hamming, max_bucket), fp
    )


def audio_neardup_pairs(
    media: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket: int = 1_000,
) -> DataFrame:
    """Perceptual AUDIO near-duplicate pairs (round 16): the 64-bit
    energy-envelope hash of ``multimodal.ahash_audio`` banded through
    the same 4 x 16-bit pigeonhole core as SimHash and the image dHash
    (hamming <= 3 guaranteed a shared band; undecodable / too-short
    payloads have NULL bands and take no part).  A WAV and a FLAC of
    the same samples hash identically — byte-level dedup cannot see
    re-encoded copies, this can."""
    from .multimodal import ahash_audio

    fp = (
        ahash_audio(media)
        .where(F.col("ahash_bands").isNotNull())
        .select(id_col, "ahash_bands")
        .cache()
    )
    return materialize_and_release(
        *_banded_near_pairs(fp, "ahash_bands", id_col, max_hamming, max_bucket), fp
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment ``(id, component)`` over a near-dup pair graph.

    Pair generators (MinHash/SimHash/embedding) emit *edges*; actually
    deduplicating a corpus needs the transitive closure — A~B and B~C must
    collapse to one cluster even though (A, C) was never emitted.  The
    component label is the minimum doc id in the cluster (deterministic).
    A pair with a NULL id on either side is not an edge and is dropped
    before anything else.

    Two routes, one answer.  One bounded action (``limit(2L + 1)`` of the
    symmetrized edge checkpoint, fetched as Arrow) probes the graph's
    size.  With at most ``L`` pairs the graph is labelled on the DRIVER by
    a vectorised union-find (:func:`_label_on_driver`) and handed back as
    a local table — one Spark job for the whole call.  ``L`` is the
    session's ``spark.sql.autoBroadcastJoinThreshold`` at 16 bytes per
    ``(long, long)`` pair (655,360 pairs at the 10 MB default): the size
    the engine already treats as small enough to route through the
    driver.  A threshold <= 0 skips the probe and always runs the
    distributed loop below; there is no knob of its own.  Every call logs
    its route, pair count, ``L`` and (distributed) round count at INFO on
    this module's logger.

    Distributed algorithm: min-label propagation with pointer jumping, the
    DataFrame rendering of the alternating-star methods published for
    MapReduce CC (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — each round every node adopts the min label in its
    neighborhood, then labels are flattened one level (``label <-
    label(label)``), giving O(log n) rounds on chain-shaped components
    instead of O(diameter).  Its fixed point is the component min id, so
    both routes emit identical rows.  ``max_iter`` bounds the distributed
    rounds only; the driver route has no round budget.

    Scale design: state is only ``(long id, long label)`` for nodes that
    appear in some pair — a tiny fraction of the corpus — and each round is
    two key joins plus an aggregation on that narrow table.  Every round is
    ``localCheckpoint``-ed: iterative lineage MUST be truncated or the
    physical plan doubles per round and the job dies on plan size long
    before it dies on data.  The checkpoints are LAZY (``eager=False``):
    each round's convergence-checksum aggregation is the action that
    materializes that round's checkpoint, so a round costs ONE Spark job
    instead of two (checkpoint job + checksum job — measured ~25% off the
    whole CC stage at sf0.1; exact output parity).  Safe because every
    round's state is always consumed through an action before the next
    round builds on it, and the lineage is deterministic.  The size probe
    materializes the edge checkpoint, so the pair plan still runs once.
    """
    # No edge-level distinct (round 17, guide §2.4): every label step is a
    # MIN aggregation over the neighborhood, and min over a multiset equals
    # min over its set — duplicate edges cannot change any round's label
    # table, the convergence checksum, or the round count, so the former
    # eager `.distinct()` bought nothing but a full shuffle of the doubled
    # edge table on every call (the single largest fixed cost of a CC call
    # at scale; pair generators in this package all emit distinct pairs
    # anyway).  Pathologically duplicated caller input inflates the
    # per-round edge joins instead of one up-front dedup — callers with
    # such input should distinct() before calling.  Value-parity with the
    # distinct form is pinned by
    # tests/test_operators.py::test_connected_components_duplicate_edges_match_distinct.
    # NOTE (round 18): pre-partitioning the checkpointed edges by ``src``
    # to spare each round's join exchange was tried and REVERTED — under
    # AQE a checkpoint's LogicalRDD reports UnknownPartitioning (verified:
    # plans/r18/dedup_cc_round_after.txt shows the ExistingRDD scan with
    # UnknownPartitioning(0)), so every round re-shuffled anyway and the
    # up-front repartition+sort was pure waste.
    pairs = pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
        )
        .union(
            pairs.select(F.col(id_b).cast("long").alias("src"), F.col(id_a).cast("long").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    limit = _driver_pair_limit(pairs.sparkSession)
    if limit > 0:
        # every pair is two edge rows, so 2L + 1 rows tell "more than L"
        probe = edges.limit(2 * limit + 1).toArrow()
        if probe.num_rows <= 2 * limit:
            _log.info(
                "connected_components: %d pairs <= L=%d -> driver union-find",
                probe.num_rows // 2, limit,
            )
            return _label_on_driver(pairs.sparkSession, probe)

    def _jump(stepped: DataFrame) -> DataFrame:
        # pointer jumping: follow one level of indirection.  Labels are
        # always node ids, so the lookup side is `stepped` itself.
        #
        # The INPUT is lazily checkpointed too (round 17, guide §2.4):
        # both join branches below reference `stepped`, and Spark shares
        # no subtrees across join branches — without the checkpoint each
        # round's min-step (the edges-join + groupBy, the expensive
        # full-shuffle half of a round at scale) evaluated TWICE, once per
        # branch (the two exchanges hash on different keys, so
        # ReuseExchange cannot collapse them either).  The checkpoint pins
        # the round's label table as one RDD that both branches read; cost
        # is one extra (long, long)-rows storage write per round.  Labels
        # and round counts are unchanged — A/B'd label-for-label on the
        # bench graph and an 11-round chain graph (OPTIMIZATION_r17.md).
        stepped = stepped.localCheckpoint(eager=False)
        return (
            stepped.join(
                stepped.select(
                    F.col("id").alias("label"), F.col("label").alias("gl")
                ),
                "label",
                "left",
            )
            .select("id", F.coalesce("gl", F.col("label")).alias("label"))
            .localCheckpoint(eager=False)
        )

    def _label_sum(df: DataFrame) -> int:
        return df.agg(F.coalesce(F.sum("label"), F.lit(0)).alias("s")).first()["s"]

    # Round 1, FUSED (round 17): with every label initially its own id, the
    # first min-label step is just nbr_min(v) = min(neighbor id) — one
    # aggregation straight off the edge table.  The identity label table
    # (select(src).distinct()), its materializing sum job, and round 1's
    # edges-join all collapse into this groupBy: two shuffles of the edge
    # table and one driver job saved per call, with the label trajectory
    # from round 1 onward unchanged (least(id, min-neighbor) is exactly
    # what the unfused round 1 computed).  Symmetrized edges mean every
    # node appears as dst, so the aggregation covers all of them.
    labels = _jump(
        edges.groupBy("dst")
        .agg(F.min("src").alias("__nm"))
        .select(
            F.col("dst").alias("id"), F.least("dst", "__nm").alias("label")
        )
    )
    # The round's first action materializes the lazy checkpoint; count
    # doubles as the empty-graph detector (no edges -> nothing to merge).
    first = labels.agg(
        F.coalesce(F.sum("label"), F.lit(0)).alias("s"), F.count("*").alias("c")
    ).first()
    converged = first["c"] == 0
    prev_sum = first["s"]
    rounds = 1
    # max_iter bounds the PRODUCTIVE (checksum-decreasing) rounds; one extra
    # round is allowed so a graph that reaches its fixed point exactly on the
    # max_iter-th productive round can still observe the stationary checksum
    # and return instead of spuriously raising.  Round 1 above consumed one
    # round of the budget (with >= 1 real edge it always decreases the
    # checksum, so it can never be the stationary observation).
    for _ in range(max_iter if not converged else 0):
        rounds += 1
        # Min-label step FUSED into one aggregation (round 18, guide §2.4):
        # min over (neighbor labels UNION the node's own label) equals
        # least(own label, min neighbor label), so unioning the label table
        # into the groupBy replaces the former labels-join-nbr_min
        # SortMergeJoin — its Exchange of the label table by id, both its
        # sorts, and the join operator itself — with rows that ride the
        # aggregation's existing partial/final exchange.  Symmetrized edges
        # mean every node appears as dst, so the old left-join coalesce arm
        # was already dead; the label trajectory (and hence every checksum
        # and the round count) is unchanged.  Pinned by
        # tests/test_operators.py::test_connected_components_fused_min_step_matches_join.
        stepped = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "label")
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        jumped = _jump(stepped)
        # convergence check without a join: labels only ever DECREASE (the
        # min-label step takes least(), the jump follows label -> label(label)
        # <= label), so sum(label) is monotone non-increasing and stationary
        # exactly at the fixed point.  One narrow agg on the fresh
        # checkpoint replaces a jumped-vs-labels join+count — and, being
        # the round's first action, it is also what MATERIALIZES the lazy
        # checkpoint (one job per round, see docstring).
        checksum = _label_sum(jumped)
        labels = jumped
        if checksum == prev_sum:
            converged = True
            break
        prev_sum = checksum
    if not converged:
        # Pointer jumping converges in O(log n) rounds, so exhausting the
        # budget means the caller's bound is too low for the graph at hand.
        # Returning the partially-merged labels silently would make the
        # downstream canonical-keep DROP THE WRONG DOCS with no signal —
        # at 100 TB that is an unrecoverable, invisible data-loss bug, so
        # fail loudly instead.  Pinned by
        # tests/test_operators.py::test_connected_components_nonconvergence_raises.
        raise RuntimeError(
            f"connected_components: label checksum had not gone stationary "
            f"within max_iter={max_iter} (+1 confirming) rounds; raise "
            "max_iter — pointer jumping needs ~log2(longest chain) rounds"
        )
    _log.info(
        "connected_components: %s pairs, L=%d -> distributed, %d rounds",
        f"> {limit}" if limit > 0 else "unprobed", limit, rounds,
    )
    return labels.select("id", F.col("label").alias("component"))


# Bytes one (long, long) pair takes in a hash relation: converts the
# broadcast threshold into the driver route's pair bound.
_PAIR_BYTES = 16


def _driver_pair_limit(spark) -> int:
    """``L`` of :func:`connected_components`: the session's broadcast
    threshold (a Spark byte string, binary units) over 16 bytes a pair;
    <= 0 when the threshold is."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    n, unit = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", raw).groups()
    return int(n) * (1 << 10 * " kmgtp".index(unit or " ")) // _PAIR_BYTES


def _label_on_driver(spark, edges) -> DataFrame:
    """Label a symmetrized ``(src, dst)`` Arrow edge table on the driver.

    Union-find over dense node indices, vectorised: each pass hooks every
    root onto the smallest root across its edges, then compresses every
    path to its root; a pass that changes nothing ends it.  Parents start
    as the node itself and only ever decrease, so each component's root is
    its min id — the fixed point of the distributed loop.  The result goes
    back as an Arrow-built local table (``LocalTableScan``): a row list
    would be scanned through a Python RDD and start the worker daemon."""
    import pyarrow as pa

    ids, dst = np.unique(edges.column("dst").to_numpy(), return_inverse=True)
    src = np.searchsorted(ids, edges.column("src").to_numpy())
    parent = np.arange(len(ids))
    while True:
        hooked = parent.copy()
        np.minimum.at(hooked, parent[src], parent[dst])
        while not np.array_equal(jumped := hooked[hooked], hooked):
            hooked = jumped
        if np.array_equal(hooked, parent):
            break
        parent = hooked
    return spark.createDataFrame(
        pa.table({"id": ids, "component": ids[parent]}), "id long, component long"
    )


def dedup_assign_components(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Attach a ``component`` column: cluster id for paired docs, own id for
    singletons (left join against the component table).

    The component table has one row per doc that appears in ANY near-dup
    pair — on a high-duplication crawl corpus that is a large fraction of
    all documents (billions of rows at 100 TB), far past Spark's broadcast
    limits.  So this is a plain equi-join on the id: AQE promotes it to a
    broadcast join at runtime when the table actually is small, and falls
    back to a shuffle join when it isn't.  A graph under the broadcast
    threshold comes back from ``connected_components`` as a small local
    table, which the planner sizes (and broadcasts) on its own; still no
    user-forced ``F.broadcast`` (plan-pinned in
    tests/test_plans.py::test_dedup_keep_canonical_no_forced_broadcast)."""
    cc = connected_components(pairs).withColumnRenamed("id", id_col)
    return df.join(cc, id_col, "left").withColumn(
        "component", F.coalesce("component", F.col(id_col).cast("long"))
    )


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Drop near-duplicates: keep exactly the min-id doc of every cluster
    (the component label) plus every unpaired doc.  One id-equi-join
    (AQE-sized, see dedup_assign_components) and a filter over the corpus —
    no shuffle of document content."""
    return dedup_assign_components(df, pairs, id_col).filter(
        F.col(id_col).cast("long") == F.col("component")
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    descending: bool = True,
) -> DataFrame:
    """Drop near-duplicates keeping the BEST doc of every cluster by
    ``order_col`` (e.g. longest text, newest crawl date, highest quality
    score) instead of the min id — the policy production dedup usually
    wants.  Ties break on the min id, so the result is deterministic.
    Docs with a NULL ``order_col`` (e.g. a missing quality score) sort
    LAST in both directions — a missing score must never beat a real one,
    and Spark's bare ``asc()`` would otherwise put NULLs first.

    Plan shape: the component assignment is the same AQE-sized equi-join as
    ``dedup_keep_canonical``; picking the winner adds one window over
    ``component`` — a shuffle of (component, id, order) triples only, never
    document content (the winning ids semi-join back to the corpus)."""
    assigned = dedup_assign_components(df, pairs, id_col)
    order = (
        F.col(order_col).desc_nulls_last()
        if descending
        else F.col(order_col).asc_nulls_last()
    )
    w = Window.partitionBy("component").orderBy(order, F.col(id_col).asc())
    winners = (
        assigned.select(id_col, "component", order_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return assigned.join(winners, id_col, "left_semi")


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.95,
    *,
    max_block: int | None = DEFAULT_MAX_BLOCK,
    _warn_stacklevel: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup within blocks (e.g. a cluster/label key).

    The blocked self-join keeps the pair count tractable; at scale the block
    key comes from an LSH or IVF assignment (see similarity.py).  ``df``
    must hold one vector per id; a pair sharing several blocks is reported
    once.

    ``max_block`` (keyword-only) is the zipfian skew guard: blocks holding
    more than ``max_block`` rows degrade to O(k) STAR candidates around the
    block's min-id anchor (exact-cosine verified like any candidate)
    instead of the O(k²) self-join — same fallback as the
    MinHash/SimHash/SRP siblings (star mechanics: ``_bucket_pairs``).
    **Default 1_000 (round 10; was None)**: the round-10 sf1 skew
    smoke measured a 12x wall-clock blow-up from one hot semantic cluster
    landing in a single block under the uncapped default, the exact defect
    class the round-9 MinHash/SimHash default flip fixed — safe-at-scale
    is now the default here too.  RECALL NOTE:
    blocks of 1_001+ rows emit only anchor-star candidates, so a pair
    whose members are both far from the block's min-id anchor is missed
    (a mutually-similar hot block still collapses to one connected
    component through its anchor).  Pass ``max_block=None`` for the exact
    SQL-oracle all-pairs semantics when block sizes are known-bounded —
    the certified catalog queries do exactly that.

    When the cap is the library DEFAULT (not passed by the caller) and a
    block actually exceeds it, a ``RuntimeWarning`` is emitted so the
    round-10 default flip cannot silently reduce recall in an existing
    pipeline; any explicit ``max_block`` (including 1_000) is taken as
    opting in and stays silent.

    The pair table is eagerly materialized and the block rows and counts
    are unpersisted before returning (see _cache.py).
    """
    ids, blocks, counts = _bucket_pairs(
        df.select(F.col(id_col).alias("id_a"), F.col(block_col).alias("blk")),
        ["blk"],
        "id_a",
        sys.maxsize if max_block is None else max_block,
    )
    hot = counts.filter(F.col("n") > max_block)
    if isinstance(max_block, _DefaultCap) and not hot.isEmpty():
        warnings.warn(
            f"embedding_neardup_pairs: at least one block exceeds the "
            f"default max_block={int(max_block)}; over-cap blocks emit "
            "anchor-star candidates only (reduced pair recall, see "
            "docstring).  Pass max_block explicitly (None for exact "
            "all-pairs) to silence this.",
            RuntimeWarning,
            stacklevel=_warn_stacklevel,
        )
    vecs = df.select(id_col, vec_col).dropDuplicates([id_col])
    return materialize_and_release(
        _cosine_verify(ids, vecs, vec_col, id_col, threshold), blocks, counts
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    threshold: float = 0.95,
    order_col: str | None = None,
    descending: bool = True,
    lloyd_iters: int = 1,
    pair_probes: int = 2,
    *,
    max_block: int | None = DEFAULT_MAX_BLOCK,
    _warn_stacklevel: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): remove documents
    whose EMBEDDINGS are near-identical — paraphrases and templated
    rewrites that survive every text-level dedup — by k-means-clustering
    the embedding space, finding within-cluster cosine pairs above
    ``threshold``, and keeping one representative per semantic component.

    Composition of this module's audited pieces, end to end:
    ``train_centroids`` (distributed Lloyd, driver holds n_cells vectors)
    -> ``assign_cells`` (broadcast arg-top, one pass) ->
    ``embedding_neardup_pairs`` with the CELL as the block key (the
    at-scale block source its docstring promises; pair count is
    per-cluster quadratic, so size ``n_cells`` ~ corpus/1k docs) ->
    components -> ``dedup_keep_best`` over ``order_col`` (pass e.g. a
    quality score; the paper keeps the doc farthest from the centroid —
    any such score works here) or min-id canonical when ``order_col`` is
    None.

    ``pair_probes`` (default 2) multi-probes PAIR GENERATION: each vector
    blocks on its ``pair_probes`` nearest cells, so a near-dup pair
    straddling a cell boundary — provably missed by single-probe
    assignment, the round-6 documented trade — still shares a block
    (either member's second-nearest cell is usually the other's nearest).
    Membership stays conceptually single-cell; a pair found in both
    shared cells is reported once (``_bucket_pairs`` returns distinct
    candidate pairs).  The pair stage pays ~``pair_probes``²× the
    single-probe candidate mass — set ``pair_probes=1`` to fall back
    to the paper's exact behavior.  Genuinely far-apart cells can still
    hide a pair (top-2 is a heuristic, not closure) — raise
    ``pair_probes`` with the same cost trade.

    ``max_block`` (keyword-only, **default 1_000 since round 10** — was
    None) forwards to ``embedding_neardup_pairs``: cells holding more than
    ``max_block`` vectors degrade to anchor-star candidates, bounding a
    hot semantic cluster (templated spam occupying one cell) at O(k)
    pairs while still collapsing it to one component through the anchor.
    Pass ``max_block=None`` for the paper's exact within-cell all-pairs
    semantics when cell sizes are known-bounded; at zipfian 100 TB the
    capped default is the safe posture (the uncapped within-cell self-join
    measured 12x wall on one hot cluster in the sf1 skew smoke).

    Returns the surviving rows of ``emb`` (plus ``component``).  Not
    bit-hashable cross-engine: Lloyd means depend on float summation
    order, so correctness is pinned by property tests (planted duplicate
    vectors collapse, winners obey the policy, selection is stable under
    repartitioning, a planted cross-cell pair is caught), not a DuckDB
    oracle."""
    from .similarity import assign_cells, train_centroids

    centroids = train_centroids(emb, n_cells, vec_col, id_col, lloyd_iters)
    probed = assign_cells(emb, centroids, vec_col, id_col, n_probe=pair_probes)
    pairs = embedding_neardup_pairs(
        probed, vec_col, id_col, "cell", threshold, max_block=max_block,
        # +1 per wrapper frame so the default-cap RuntimeWarning points at
        # the caller of semantic_dedup/curate_corpus, not at this line
        # (round-11 advice)
        _warn_stacklevel=_warn_stacklevel + 1,
    )
    if order_col is None:
        return dedup_keep_canonical(emb, pairs, id_col)
    return dedup_keep_best(emb, pairs, id_col, order_col, descending)


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination scan: (id, n_shared) for every corpus doc
    sharing at least ``min_shared`` distinct word ``n``-grams with ANY
    benchmark document (the GPT-3 appendix-C / PaLM n-gram overlap rule —
    13-grams at production scale; the default is lower because the test
    corpora are short).

    Plan shape at 100 TB: the benchmark side is by construction tiny (eval
    sets are thousands of rows), so its distinct-gram table BROADCASTS; the
    corpus side is one map-side shingle pass (reusing ``shingled``'s
    normalisation) joined against the broadcast set — no corpus shuffle at
    all until the (id, gram)-matched rows (a vanishingly small fraction)
    aggregate into per-doc counts.  Grams are compared as strings, not
    hashes: the broadcast join is equality on the gram text, so there are
    no collision false-positives and the operator is oracle-exact.

    The (tiny) overlap table is eagerly materialized; since round 17 the
    shingle intermediates are in-plan Generate barriers rather than
    persists, so there are no caches to release.
    """
    return materialize_and_release(
        _contamination_overlap_lazy(corpus, benchmark, text_col, id_col, n, min_shared)
    )


def _contamination_overlap_lazy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    min_shared: int,
) -> DataFrame:
    """``contamination_overlap``'s plan before its eager materialization."""
    # Both shingle arrays MUST be materialized before their explode: the
    # gram-building HOF chain otherwise collapses into the generator, which
    # re-evaluates it per emitted row — per-doc cost goes O(grams²) (the
    # round-5 winnowing blow-up, winnow_match_pairs; measured live here in
    # round 5: the sf0.1 corpus gram pass runs 3.6s exploded-inline vs
    # 0.6s array-build-only, and the full decontaminate drops 3.9s -> 0.9s
    # with the array pinned).  Round 17 session 2: each shingle table here
    # has exactly ONE consumer, so the corpus-sized MEMORY_AND_DISK persist
    # is replaced by the zero-storage in-plan Generate barrier
    # (``generate_barrier`` — the scrub-text mechanism): the HOF chain
    # computes once per row inside the barrier's own Generate, and the
    # gram explode reads the generated attribute.
    bench_sh = generate_barrier(
        shingled(benchmark, text_col, id_col, n=n), "shingles"
    )
    bench_grams = bench_sh.select(F.explode("shingles").alias("gram")).distinct()
    corpus_sh = generate_barrier(
        shingled(corpus, text_col, id_col, n=n), "shingles"
    )
    corpus_grams = corpus_sh.select(
        F.col(id_col), F.explode("shingles").alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """The REVERSE view of ``contamination_overlap``: one row per
    BENCHMARK document that leaks into the corpus — how many distinct
    corpus documents share at least one word ``n``-gram with it
    (``n_corpus_docs``) and how many of its distinct grams are hit at all
    (``n_grams_hit``, against ``n_grams`` total).  This is the
    eval-integrity report: ``contamination_overlap`` tells you what to
    DROP from the training mix; this tells you which eval items were
    compromised and how badly — the number an eval-audit dashboard wants
    per benchmark release, and the evidence for excluding an eval item
    whose text turns out to be boilerplate that half the crawl shares.

    Plan shape: identical to ``contamination_overlap`` (benchmark gram
    table broadcasts, corpus side is one map-side shingle pass, only
    matched (gram, ids) rows aggregate) plus a tiny per-bench-doc gram
    count; benchmark docs with zero leaks still report (left join), so
    the row count is exactly ``|benchmark|``."""
    # bench_sh feeds TWO plan branches (grams + totals), so the persist is
    # the right tool for it (eval sets are tiny anyway); the corpus side
    # has ONE consumer and gets the zero-storage Generate barrier instead
    # of a corpus-sized cache (round 17 session 2 — see
    # contamination_overlap).
    bench_sh = shingled(benchmark, text_col, id_col, n=n).persist()
    bench_grams = bench_sh.select(
        F.col(id_col).alias("__bench_id"), F.explode("shingles").alias("gram")
    )
    gram_totals = bench_sh.select(
        F.col(id_col).alias("__bench_id"), F.size("shingles").alias("n_grams")
    )
    corpus_sh = generate_barrier(
        shingled(corpus, text_col, id_col, n=n), "shingles"
    )
    corpus_grams = corpus_sh.select(
        F.col(id_col).alias("__corpus_id"), F.explode("shingles").alias("gram")
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("__bench_id")
        .agg(
            F.count_distinct("__corpus_id").alias("n_corpus_docs"),
            F.count_distinct("gram").alias("n_grams_hit"),
        )
    )
    out = (
        gram_totals.join(hits, "__bench_id", "left")
        .select(
            F.col("__bench_id").alias(id_col),
            "n_grams",
            F.coalesce("n_grams_hit", F.lit(0)).alias("n_grams_hit"),
            F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
            F.round(
                F.coalesce("n_grams_hit", F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("gram_hit_frac"),
        )
    )
    return materialize_and_release(out, bench_sh)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Drop every corpus document flagged by ``contamination_overlap`` —
    the standard pre-training hygiene step that keeps eval sets out of the
    training mix.  One broadcast-driven scan plus an id anti-join; the
    corpus text itself is never shuffled."""
    flagged = contamination_overlap(
        corpus, benchmark, text_col, id_col, n=n, min_shared=min_shared
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: drop every corpus row whose
    ``vec_col`` has cosine >= ``threshold`` to ANY benchmark embedding —
    the semantic twin of ``decontaminate``, catching the eval leakage
    n-grams cannot see (paraphrased or re-worded benchmark items, and
    translations when the embedder is multilingual).

    Plan shape: the benchmark side (eval sets are small — thousands of
    rows) is explicitly broadcast and the match is a single LEFT ANTI
    BroadcastNestedLoopJoin, so the corpus neither shuffles nor
    materializes a pair table; per corpus row the join short-circuits at
    the first matching benchmark vector.  Corpus norms are computed once
    per row outside the join condition (``cosine_from_norms``, the
    round-9 hoist — bit-identical floats to ``cosine_similarity``); the
    cost ceiling is |corpus| x |benchmark| dot products map-side, the
    honest brute force at eval-set scale.  For a benchmark too large to
    broadcast, pre-block both sides (IVF cells / SRP bands,
    similarity.py) and run this per block.

    Zero-norm or NULL embeddings on either side produce NULL cosine
    (``try_divide``) which never crosses the threshold: degenerate
    corpus rows are KEPT (they leak nothing), degenerate benchmark rows
    match nothing.  The cosine is rounded to 6 dp before the comparison,
    matching ``embedding_neardup_pairs`` so thresholds mean the same
    thing across the embedding operators."""
    return _benchmark_cosine_join(
        corpus, vec_col, benchmark, vec_col, threshold, "left_anti"
    )


def _benchmark_cosine_join(
    c: DataFrame,
    c_vec: str,
    benchmark: DataFrame,
    vec_col: str,
    threshold: float,
    how: str,
    *b_cols: Column,
) -> DataFrame:
    """``c`` joined (``how``) to the broadcast ``benchmark`` on 6-dp
    cosine >= ``threshold`` — the match of both semantic contamination
    operators.  Norms are computed once per row on each side, outside
    the join condition; ``b_cols`` ride along from the benchmark."""
    c = c.withColumn("__c_n", norm(F.col(c_vec)))
    b = F.broadcast(
        benchmark.select(
            *b_cols,
            F.col(vec_col).alias("__b_vec"),
            norm(F.col(vec_col)).alias("__b_n"),
        )
    )
    cos = cosine_from_norms(c[c_vec], b["__b_vec"], c["__c_n"], b["__b_n"])
    return c.join(b, F.round(cos, 6) >= threshold, how).drop("__c_n")


def contamination_report_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    threshold: float = 0.95,
) -> DataFrame:
    """The REVERSE view of ``decontaminate_semantic``, mirroring
    ``contamination_report``: one row per BENCHMARK embedding with the
    number of distinct corpus rows within the cosine threshold
    (``n_corpus_docs``) — which eval items leak in embedding space and
    how broadly.  A benchmark item that near-matches half the crawl is
    boilerplate, not leakage, and this is the evidence for excluding it.

    Plan shape: same broadcast inner join as the anti-join twin (the
    corpus never shuffles; only matched (bench_id, corpus_id) pairs —
    bounded by actual leakage — reach the count aggregation), then a
    left join back to the benchmark ids so clean items report 0 rather
    than vanish.  Same 6-dp round and NULL-on-zero-norm semantics as
    every embedding operator here; note a benchmark that is a subset of
    the corpus self-matches at cosine 1.0, so its floor is 1, not 0."""
    c = corpus.select(
        F.col(id_col).alias("__c_id"), F.col(vec_col).alias("__c_vec")
    )
    hits = (
        _benchmark_cosine_join(
            c, "__c_vec", benchmark, vec_col, threshold, "inner",
            F.col(id_col).alias("__b_id"),
        )
        .groupBy("__b_id")
        .agg(F.count_distinct("__c_id").alias("n_corpus_docs"))
    )
    return (
        benchmark.select(F.col(id_col).alias("__b_id"))
        .join(hits, "__b_id", "left")
        .select(
            F.col("__b_id").alias(id_col),
            F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
        )
    )

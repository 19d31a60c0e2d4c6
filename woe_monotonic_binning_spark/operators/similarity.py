"""Similarity search over embedding columns.

Three tiers (SURVEY.md beyond-reference ops):
- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query set
  against the full corpus, one map-side pass + a per-query top-k.  The
  per-query heap is a window row_number over (query, cosine): at scale
  prefer the aggregate form, but the window stays correct and AQE keeps the
  single shuffle balanced because the partition key is the query id.
- ``ivf_topk`` — IVF-style approximate search: assign every corpus vector to
  its nearest centroid (broadcast centroids), probe the ``n_probe`` closest
  centroids per query, exact-rank only inside probed cells.  Cuts the
  scanned fraction to ~n_probe/n_cells of the corpus.
- ``srp_topk`` — LSH-bucketed approximate search via signed random
  projections (Charikar's cosine LSH): ``n_bits`` fixed hyperplanes give
  each vector a bit signature, the bits are split into ``n_bands`` band
  keys, and only corpus vectors sharing at least one band key with a query
  are exact-ranked.  A pair at cosine angle θ collides on a band with
  probability (1 − θ/π)^(bits/band); banding ORs these, so recall is high
  for near neighbors and the scanned fraction stays sub-linear.

Centroids here come from a deterministic sample + one Lloyd refinement
(``train_centroids``) — at 100 TB you would train on a sample anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .._cache import materialize_and_release
from .._rows import local_table
from ..functions.vector import cosine_from_norms, dot, norm
from .dedup import _bucket_pairs, _cosine_verify


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self excluded).

    Returns (query_id, neighbor_id, cosine, rank).  Deterministic tiebreak
    on (cosine desc, neighbor_id).
    """
    # Norms once per ROW (not per pair): try_divide(dot, q_n * c_n) is
    # bit-identical to cosine_similarity but pays one array fold per
    # (query, corpus) pair instead of three.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_n"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_n"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 1,
) -> list[list[float]]:
    """Deterministic IVF codebook: seed with the ``n_cells`` lowest-id
    vectors, then run ``lloyd_iters`` distributed Lloyd refinements
    (assign -> mean per cell).  Driver holds only n_cells vectors."""
    seeds = [
        [float(x) for x in r[0]]
        for r in corpus.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    ]
    centroids = seeds
    for _ in range(lloyd_iters):
        assigned = assign_cells(corpus, centroids, vec_col, id_col)
        # Element-wise cell means without one agg expression per dimension
        # (the former dim x avg(element_at) form planned fine at dim 8 but
        # generated a 256-expression aggregate at real embedding widths):
        # posexplode to (cell, pos, x), one hash agg — partial aggregation
        # shrinks the shuffle to ~partitions x cells x dim rows — then
        # reassemble each mean vector in position order.
        means = (
            assigned.select(
                "cell",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cell", F.expr("transform(pm, p -> p.m)").alias("mean_vec"))
            .collect()
        )
        new = {r["cell"]: [float(x) for x in r["mean_vec"]] for r in means}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return centroids


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    return local_table(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, c_vec array<double>",
    )


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment via broadcast join + arg-top — one pass.

    ``n_probe=1`` (default) is the classic single-cell membership (one row
    per vector).  ``n_probe>1`` emits one row per (vector, cell) for the
    ``n_probe`` nearest centroids — the multi-probe table pair-generation
    consumers (semantic_dedup) block on, so near-dups straddling a cell
    boundary still land in one common block; the output grows
    ``n_probe``-fold, nothing else changes."""
    spark = corpus.sparkSession
    cdf = _centroid_df(spark, centroids).withColumn("c_n", norm(F.col("c_vec")))
    # vector norm once per ROW, not per (row, centroid): try_divide(dot,
    # __vn * c_n) is bit-identical to cosine_similarity at 1/n_cells the
    # norm folds
    scored = (
        corpus.withColumn("__vn", norm(F.col(vec_col).cast("array<double>")))
        .crossJoin(F.broadcast(cdf))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cell"),
            cosine_from_norms(
                F.col(vec_col).cast("array<double>"),
                F.col("c_vec"),
                F.col("__vn"),
                F.col("c_n"),
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(id_col, vec_col, "cell")
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: (cosine desc, neighbor_id) deterministic rank,
    keep rank <= k — one definition for the four serving paths (round-8
    review: the tie-break policy must not drift between them)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _query_probes(q: DataFrame, cdf: DataFrame, n_probe: int) -> DataFrame:
    """Shared probe construction: each query's n_probe nearest cells by
    centroid cosine (deterministic tiebreak on cell id)."""
    q_cells = (
        q.withColumn("__qn", norm(F.col("q_vec").cast("array<double>")))
        .crossJoin(F.broadcast(cdf))
        .select(
            "query_id",
            "q_vec",
            "__qn",
            "cell",
            cosine_from_norms(
                F.col("q_vec").cast("array<double>"),
                F.col("c_vec"),
                F.col("__qn"),
                F.col("c_n"),
            ).alias("sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cell"))
    return (
        q_cells.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        # q_n rides along so pair scoring downstream reuses the one fold
        .select("query_id", "q_vec", F.col("__qn").alias("q_n"), "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: rank only inside the ``n_probe`` cells nearest to
    each query.  Same output schema as ``brute_force_topk``."""
    spark = corpus.sparkSession
    cdf = _centroid_df(spark, centroids).withColumn("c_n", norm(F.col("c_vec")))
    assigned = assign_cells(corpus, centroids, vec_col, id_col)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = _query_probes(q, cdf, n_probe)
    scored = (
        assigned.withColumn("__cn", norm(F.col(vec_col)))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_from_norms(
                    F.col("q_vec"), F.col(vec_col), F.col("q_n"), F.col("__cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def save_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist an IVF index: ``{path}/centroids`` (tiny) plus
    ``{path}/assigned`` written ``partitionBy("cell")``.

    The cell-partitioned layout is the scale point: a probe filters on
    ``cell IN (...)``, which Spark turns into *partition pruning* — only the
    ``n_probe`` probed cells' files are listed and read, so serving a query
    batch scans ~n_probe/n_cells of the corpus bytes.  Building the index
    costs one assignment pass + one shuffle-free write; it amortizes across
    every subsequent query batch (the assign-per-query cost of ``ivf_topk``
    disappears).
    """
    spark = corpus.sparkSession
    _centroid_df(spark, centroids).write.mode(mode).parquet(f"{path}/centroids")
    assigned = assign_cells(corpus, centroids, vec_col, id_col)
    assigned.write.mode(mode).partitionBy("cell").parquet(f"{path}/assigned")


def load_ivf_centroids(spark, path: str) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return [[float(x) for x in r["c_vec"]] for r in rows]


def ivf_index_append(
    spark,
    path: str,
    new_corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental index maintenance: assign NEW vectors to the index's
    EXISTING centroids and append them into ``{path}/assigned``'s cell
    partitions — the daily-arrivals path that grows a serving index
    without retraining or rewriting the corpus.

    - **Centroids stay frozen.**  Already-indexed vectors are untouched
      and results over them are unchanged; for the appended vectors the
      search is identical to a full rebuild WITH THE SAME centroids
      (pinned in tests/test_operators.py).  When the embedding
      distribution drifts far enough that frozen cells go lopsided,
      re-train and rebuild (``train_centroids`` + ``save_ivf_index``) —
      the standard IVF re-index cadence, now decoupled from ingest.
    - **The append is partition-local.**  ``partitionBy("cell")`` in
      append mode adds files only under the touched cell directories, so
      the write cost is one broadcast-assign pass over the NEW batch, and
      serve-time partition pruning is unaffected.  Like the streaming
      posting stores, file count grows per append — compact by rewriting
      ``{path}/assigned`` periodically if batches are tiny.
    - **Id dedup is the caller's contract** (same as every store in this
      library): run ``dedup_against_reference`` / exact dedup upstream if
      re-crawls can resend vectors, or the duplicate ids simply both
      serve.
    """
    centroids = load_ivf_centroids(spark, path)
    assigned = assign_cells(new_corpus, centroids, vec_col, id_col)
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/assigned")


def compact_ivf_index(spark, path: str) -> None:
    """Maintenance pass for an appended IVF index: rewrite
    ``{path}/assigned`` to one file per cell partition.  Run after many
    small ``ivf_index_append`` batches — probe latency degrades with
    files-per-cell (each probed partition lists and opens every file),
    not with rows, and the append path deliberately never rewrites.
    Content is unchanged (same rows, same cells); the rewrite cost is one
    shuffle of the assigned rows (hash on ``cell``, so each cell lands in
    exactly one task and writes exactly one file).  The same cadence as
    ``compact_digest_store`` / OPTIMIZE on a transactional table format.

    **Single-writer contract**: compaction must not run concurrently with
    ``ivf_index_append`` (or another compaction) on the same ``path`` — a
    batch appended between the read and the swap lands in the pre-compact
    copy and is lost when the swap completes.  Hadoop ``FileSystem.rename``
    / ``delete`` report failure by returning ``false`` rather than
    raising, so every step below is checked: a failed swap restores the
    serving copy and raises instead of continuing into the backup delete
    (round-9 advice — the unchecked sequence could delete the only
    serving copy).  Crash recovery: a crash between the two renames
    leaves ``assigned_old`` but no ``assigned``; the next compaction (or
    a manual rename) restores it — handled automatically at entry."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src = f"{path}/assigned"
    src_p = jvm.org.apache.hadoop.fs.Path(src)
    fs = src_p.getFileSystem(conf)
    bak = jvm.org.apache.hadoop.fs.Path(f"{path}/assigned_old")
    # crash recovery from a previous run that died between its two
    # renames: the backup IS the serving copy — put it back first
    if not fs.exists(src_p) and fs.exists(bak):
        if not fs.rename(bak, src_p):
            raise IOError(
                f"compact_ivf_index: found orphaned backup {bak} with no "
                f"serving copy at {src}, and restoring it failed — fix up "
                "the index directory manually before compacting"
            )
    df = spark.read.parquet(src)
    # stage the compacted copy, then swap: a crash mid-rewrite must not
    # leave the serving index truncated
    staged = f"{path}/assigned_compacting"
    (
        df.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staged)
    )
    staged_p = jvm.org.apache.hadoop.fs.Path(staged)
    if fs.exists(bak) and not fs.delete(bak, True):
        raise IOError(f"compact_ivf_index: could not clear stale backup {bak}")
    if not fs.rename(src_p, bak):
        raise IOError(
            f"compact_ivf_index: rename {src} -> {bak} failed (serving "
            "copy untouched); is another writer holding the directory?"
        )
    if not fs.rename(staged_p, src_p):
        # restore the serving copy before failing — the index must never
        # be left absent
        restored = fs.rename(bak, src_p)
        raise IOError(
            f"compact_ivf_index: rename {staged} -> {src} failed; "
            + (
                "previous serving copy restored"
                if restored
                else f"RESTORE ALSO FAILED — serving copy is at {bak}"
            )
        )
    # delete the backup only after verifying the new serving copy exists;
    # a swap that REPORTED success but left no serving copy (eventually-
    # consistent or flaky FS) must raise, not silently return with only
    # the backup on disk (round-10 advice)
    if not fs.exists(src_p):
        raise IOError(
            f"compact_ivf_index: rename {staged} -> {src} reported success "
            f"but {src} does not exist; the previous serving copy is "
            f"preserved at {bak} — restore it manually before serving"
        )
    fs.delete(bak, True)


def ivf_topk_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``ivf_topk`` served from a saved index — same output schema and, for
    identical centroids, identical results (tests/test_operators.py pins
    both).  The ``cell`` filter prunes at the *partition* level: the scan
    reads only the probed cells' directories."""
    centroids = load_ivf_centroids(spark, path)
    cdf = _centroid_df(spark, centroids).withColumn("c_n", norm(F.col("c_vec")))
    assigned = spark.read.parquet(f"{path}/assigned")

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probes = _query_probes(q, cdf, n_probe)
    # Only the DISTINCT probed cell ids come to the driver (bounded by
    # n_cells, never by |queries|): the IN-list makes the pruning static
    # (visible as PartitionFilters in the scan).  The probe rows themselves —
    # |queries| x n_probe rows INCLUDING the query vectors — stay in a
    # DataFrame and reach the join executor-side, so batch serving never
    # round-trips embeddings through the driver.
    probed_cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    scored = (
        assigned.filter(F.col("cell").isin(probed_cells))
        .withColumn("__cn", norm(F.col(vec_col)))
        .join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_from_norms(
                    F.col("q_vec"), F.col(vec_col), F.col("q_n"), F.col("__cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def srp_hyperplanes(dim: int, n_bits: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for signed-random-projection LSH.

    Driver-side and tiny (n_bits x dim floats); shipped to executors as
    column literals, never as a join side.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_bits, dim))]


def _srp_bands(
    df: DataFrame,
    planes: list[list[float]],
    n_bands: int,
    vec_col: str,
    id_col: str,
    out_id: str,
    keep_vec: str,
    keep_norm: str,
) -> DataFrame:
    """Explode a vector table to one row per (id, band_idx, band_val).

    The signature is one map-side pass: n_bits broadcast-literal dot
    products folded into sign bits, packed r-bits-per-band into ints.  No
    shuffle happens here — the only shuffle in the SRP pipeline is the
    candidate-pair dedup downstream.

    ``keep_norm`` carries the vector's L2 norm, computed ONCE PER ROW here
    so downstream pair scoring pays one array fold per pair
    (try_divide(dot, n_a * n_b) — bit-identical floats to
    cosine_similarity) instead of re-folding both norms per candidate.
    """
    n_bits = len(planes)
    if n_bands <= 0 or n_bits % n_bands != 0:
        # a remainder silently DROPPED trailing hyperplane bits from every
        # band (recall/pruning deviated from the documented curve), and
        # n_bands > n_bits produced 0-bit bands that crashed with an
        # unrelated AttributeError (round-8 review)
        raise ValueError(
            f"n_bands ({n_bands}) must positively divide n_bits ({n_bits}) "
            "so every hyperplane bit lands in exactly one band"
        )
    r = n_bits // n_bands
    bits = [
        (dot(F.col(vec_col), F.array(*[F.lit(x) for x in h])) >= 0).cast("int")
        for h in planes
    ]
    bands = [
        sum(F.shiftleft(bits[j * r + t], t) for t in range(r)).alias(f"b{j}")
        for j in range(n_bands)
    ]
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(keep_vec),
        norm(F.col(vec_col)).alias(keep_norm),
        F.array(*bands).alias("__bands"),
    ).select(
        out_id,
        keep_vec,
        keep_norm,
        F.posexplode("__bands").alias("band_idx", "band_val"),
    )


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 32,
    n_bands: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k; same output schema as
    ``brute_force_topk`` (query_id, neighbor_id, cosine, rank).

    Plan shape at scale: the corpus-side band table is map-only (signature
    literals, posexplode), the band join broadcasts the exploded query
    bands, and only the surviving candidate pairs — ~(n_bands / 2^r)·|C|·|Q|
    in the random-data worst case, far fewer on clustered data — reach the
    dedup shuffle and the per-query ranking window.  The full corpus is
    never shuffled, mirroring ``minhash_dedup_pairs``'s band trick for the
    Jaccard case (Charikar SRP is its cosine twin).

    Defaults (32 bits / 8 bands, i.e. 4 bits per band) are tuned for
    loosely-correlated corpora; on the near-random driver embeddings they
    scan ~40% of pairs at recall@5 ≈ 0.7, and on clustered real embeddings
    both numbers improve together (collision probability is monotone in
    cosine).  Raise n_bands for recall, raise bits-per-band for pruning.
    """
    if dim is None:
        first = corpus.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                f"cannot infer embedding dimension: corpus is empty or its "
                f"first {vec_col!r} is NULL — pass dim explicitly"
            )
        dim = len(first[0])
    planes = srp_hyperplanes(dim, n_bits, seed)
    c_bands = _srp_bands(
        corpus, planes, n_bands, vec_col, id_col, "neighbor_id", "c_vec", "c_n"
    )
    q_bands = _srp_bands(
        queries, planes, n_bands, vec_col, id_col, "query_id", "q_vec", "q_n"
    )
    cand = (
        c_bands.join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_n"), F.col("c_n")
            ),
            6,
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def srp_bits_for_threshold(
    threshold: float, n_bands: int = 16, recall: float = 0.9
) -> int:
    """Bits per band that keep the SRP banding OR-curve recall at least
    ``recall`` AT the cosine threshold (pairs above it collide more, so
    their recall is higher still): the largest integer ``r`` with
    ``p**r >= 1 - (1-recall)**(1/n_bands)`` where ``p = 1 - acos(t)/pi``
    is the per-hyperplane agreement probability.  Maximal pruning for the
    recall floor — the banding twin of sizing MinHash bands from the
    Jaccard threshold.  Clamped to [1, 24] (24-bit band values keep the
    packed ints well inside int32 and the band space at 16.7M values)."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    if p >= 1.0:
        return 24
    if p <= 0.0:
        return 1
    need = 1.0 - (1.0 - recall) ** (1.0 / n_bands)
    return max(1, min(int(math.floor(math.log(need) / math.log(p))), 24))


def srp_threshold_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.8,
    n_bits: int | None = None,
    n_bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1_000,
    dim: int | None = None,
) -> DataFrame:
    """All corpus pairs with cosine >= ``threshold`` via SRP-LSH blocking —
    the ``approxSimilarityJoin`` shape, and the 100 TB path for embedding
    near-dup: unlike ``embedding_neardup_pairs`` it needs no pre-existing
    block column, the hyperplane bands ARE the blocking.

    Candidates come from a band-key self-join over ID-ONLY band tuples
    (round 9: the band cache and the candidate-dedup shuffle used to carry
    both 64-dim vectors per row — ~1 KB/candidate of shuffle and
    n_bands-fold vector duplication in the cache; they now carry 16-byte
    id pairs, and the vectors + per-row norms join back ONCE by id for the
    exact-cosine verify, the same verify-by-rejoin shape as the MinHash
    sibling).  Precision is exactly 1.0, recall is the banding OR-curve
    1-(1-(1-θ/π)^r)^b.

    **Band sizing is threshold-adaptive since round 11** (``n_bits=None``,
    the default): bits-per-band come from ``srp_bits_for_threshold`` — the
    most pruning that keeps banding recall >= 0.9 at the threshold — and
    ``n_bits`` is that times ``n_bands``.  At loose thresholds (<= ~0.55)
    this reproduces the old fixed default (4 bits/band, ``n_bits=64``)
    exactly; at near-dup thresholds it is what a user should have picked
    by hand (t=0.8 -> 8 bits, t=0.9 -> 12, t=0.95 -> 18): healthy buckets
    shrink from ~|corpus|/16 to ~|corpus|/2^r, which is what makes the
    candidate set subquadratic at scale.  Pass ``n_bits`` explicitly to
    pin a band geometry (it must be a multiple of ``n_bands``).

    RECALL/SCALE NOTE (the sibling note of ``minhash_dedup_pairs``):
    ``max_bucket`` (default 1_000 since round 11, unified with every
    sibling cap in this library — was 10_000) is the zipfian skew guard.
    Band buckets larger than the cap degrade to exact-cosine verified
    anchor-star candidates — a degenerate bucket (zero vectors, a
    constant-embedding spam cluster) would otherwise contribute
    O(bucket²) join rows on one reducer — so a pair whose members are
    both dissimilar to the bucket anchor is missed (star mechanics:
    ``dedup._bucket_pairs``).
    Under adaptive banding the cap only fires on genuine mass duplication
    at near-dup thresholds; at LOOSE thresholds on corpora past
    ~16k x 1_000 rows, healthy buckets themselves exceed the cap — there
    the exact answer is itself quadratic in the corpus (at t=0.35 on
    loosely-correlated embeddings ~40% of ALL pairs qualify), so the star
    degradation is the scalable behavior and raising ``max_bucket`` (or
    passing a tighter threshold) is the explicit opt-in to quadratic
    cost.  Measured at sf1 on the hot-vector skew arm in BASELINE.md
    (round 11).

    The pair table is eagerly materialized and the band and bucket-count
    caches are unpersisted before returning (_cache.py) — same lifecycle
    as ``minhash_dedup_pairs``.
    """
    if n_bits is None:
        n_bits = srp_bits_for_threshold(threshold, n_bands) * n_bands
    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                f"cannot infer embedding dimension: input is empty or its "
                f"first {vec_col!r} is NULL — pass dim explicitly"
            )
        dim = len(first[0])
    planes = srp_hyperplanes(dim, n_bits, seed)
    return materialize_and_release(
        *_srp_threshold_pairs_lazy(
            df, vec_col, id_col, threshold, planes, n_bands, max_bucket
        )
    )


def _srp_threshold_pairs_lazy(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    planes: list[list[float]],
    n_bands: int,
    max_bucket: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(lazy verified pairs, persisted band rows, persisted bucket counts)
    — ``srp_threshold_pairs`` after its band geometry is fixed and before
    its eager materialization; the caller releases both caches."""
    # Compute the n_bits dot products once, projected down to (id,
    # band_idx, band_val) so the persisted band rows hold 16-byte tuples,
    # not n_bands copies of every vector.
    ids, bands, sizes = _bucket_pairs(
        _srp_bands(df, planes, n_bands, vec_col, id_col, "id_a", "v_a", "n_a")
        .select("id_a", "band_idx", "band_val"),
        ["band_idx", "band_val"],
        "id_a",
        max_bucket,
    )
    return _cosine_verify(ids, df, vec_col, id_col, threshold), bands, sizes

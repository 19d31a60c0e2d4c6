"""Perplexity quality filter — the CCNet posture (round 17, verdict
item 3): score every document under a small n-gram language model
trained on trusted text; fluent documents have low perplexity, boiler-
plate/gibberish high.  Wetterwald et al. 2019 (CCNet) run a KenLM
5-gram per language; this module is the same pipeline shape built
Spark-first with a bigram LM whose arithmetic both engines can certify
exactly.

Architecture (the ``langid.py`` asymmetric split):

- **Training** (:func:`train_ngram_lm`): two bounded distributed
  aggregates — word counts (vocabulary cut: ``min_count`` floor, then
  top ``max_vocab`` by (count desc, word), executed as
  TakeOrderedAndProject) and bigram-transition counts over the
  ``<unk>``-mapped token stream (one ``groupBy(h, w).count()`` with
  map-side combine; output bounded by the transition-type count, cut
  to ``max_ngrams`` — CCNet's count-based pruning).  The ``<unk>``
  mapping happens INSIDE the token array via a one-row broadcast map
  (no per-token join); ``<s>`` starts every document.
- **Serving** (:meth:`NGramLMModel.score`): one map-side pass, no
  shuffle, no join.  The fold is an Arrow-batched pandas kernel over
  the JVM-pre-tokenized stream with the tables in the UDF closure —
  O(1) dict lookups, measured FLAT in table size (a per-token join
  would shuffle the corpus; an expression-tree literal would blow
  codegen at real vocabulary sizes; Spark's map-column lookups are
  linear scans).  Per transition:
  ``coalesce(bigram[h ' ' w], miss[h])`` minus the ``<unk>`` penalty.

**Integer scores by construction** (the ``langid`` lesson): log-
probabilities are stored as integer micro-nats, so the fold is exact
on every engine and the acceptance gate is an INTEGER comparison —
``ppl < threshold  <=>  logmass_micro >= -n * round(ln(threshold)*1e6)``
— certifiable cross-engine with no float-summation caveat.  The
float ``ppl`` column (``exp(-logmass / 1e6 / n)``) is telemetry.

Reference: Wenzek et al. 2020 (CCNet, arXiv:1911.00359) for the
pipeline posture; Chen & Goodman 1998 for additive smoothing.  The
reference repo (a WOE binning library) has no text surface — beyond-
reference pipeline scope.
"""

from __future__ import annotations

import json
import math

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ._rows import local_table
from .operators.text import _WORD_RE

__all__ = [
    "NGramLMModel",
    "train_ngram_lm",
    "ppl_tokens_sql",
    "ppl_logmass_sql",
]

_SCALE = 1_000_000  # micro-nats
_BOS = "<s>"
_UNK = "<unk>"


def _tokens(text: Column) -> Column:
    """Lowercased word tokens — the shared ``_WORD_RE`` split, so the
    LM sees exactly the words ``word_count`` counts."""
    return F.regexp_extract_all(F.lower(text), F.lit(_WORD_RE), F.lit(0))


class NGramLMModel:
    """Fitted bigram LM: ``bigram_logp`` maps ``"h w"`` transition keys
    to micro-nat log-probabilities, ``miss_logp`` maps each history to
    the smoothed log-probability of an UNSEEN transition from it
    (``log(alpha / (c(h) + alpha * V))``) — together a TOTAL function
    over the ``<unk>``-mapped token stream, so scoring never needs a
    default case.  Construction from pinned constants is first-class
    (the certification posture)."""

    def __init__(
        self,
        bigram_logp: dict[str, int],
        miss_logp: dict[str, int],
        unk_penalty: int = 0,
    ):
        if _BOS not in miss_logp or _UNK not in miss_logp:
            raise ValueError(
                f"miss_logp must cover '{_BOS}' and '{_UNK}' histories"
            )
        for key in bigram_logp:
            h = key.split(" ", 1)[0]
            if h not in miss_logp:
                raise ValueError(
                    f"bigram history {h!r} missing from miss_logp"
                )
        if unk_penalty < 0:
            raise ValueError(f"unk_penalty must be >= 0: {unk_penalty}")
        self.bigram_logp = {k: int(v) for k, v in bigram_logp.items()}
        self.miss_logp = {k: int(v) for k, v in miss_logp.items()}
        # micro-nats SUBTRACTED per <unk> TARGET: <unk> stands for the
        # whole OOV space, so a transition into it must not ride the
        # ordinary one-word smoothing mass — without this, all-OOV
        # gibberish outscores shuffled in-vocab text (caught by
        # test_fluent_scores_below_gibberish; KenLM models ship the
        # same convention as a low standalone <unk> probability)
        self.unk_penalty = int(unk_penalty)

    @property
    def vocabulary(self) -> set[str]:
        """Histories minus the two structural tokens = the word list
        the ``<unk>`` mapping keeps."""
        return set(self.miss_logp) - {_BOS, _UNK}

    # -- serving ---------------------------------------------------------
    def score(
        self,
        df: DataFrame,
        text_col: str = "text",
        keep_threshold: float | None = None,
        prefix: str = "ppl_",
    ) -> DataFrame:
        """Add ``ppl_logmass`` (bigint micro-nats, exact), ``ppl_n``
        (transition count = token count), ``ppl`` (double perplexity,
        telemetry) and — when ``keep_threshold`` is given — the
        integer-domain ``ppl_keep`` gate (NULL for token-less/NULL
        text: nothing to judge, the honest-reject posture).  Stateless:
        stream == batch.

        The fold is JVM pre-tokenization + an Arrow-batched pandas
        kernel walking the transition stream with O(1) dict lookups
        (the ``tokenize_bpe`` serving shape); the tables ride the UDF
        closure, pickled once per executor.  Measured FLAT in table size
        (0.7 s for 50k sf1 docs at 1.4k AND 100k entries) and faster
        than a pure-JVM ``aggregate`` fold over broadcast map columns
        even at the pinned 176-entry certification model (2.0 s vs
        5.0 s): Spark evaluates each map-column lookup as a linear scan,
        so that fold's cost grows with the table.
        """
        bigram = dict(self.bigram_logp)
        miss = dict(self.miss_logp)
        pen = self.unk_penalty

        @F.pandas_udf("struct<lm: long, n: int>")
        def fold(tokens: pd.Series) -> pd.DataFrame:
            lms, ns = [], []
            for ws in tokens:
                if ws is None or len(ws) == 0:
                    lms.append(None)
                    ns.append(None)
                    continue
                s = 0
                h = _BOS
                for w in ws:
                    if w not in miss:
                        w = _UNK
                        s -= pen
                    got = bigram.get(f"{h} {w}")
                    s += got if got is not None else miss[h]
                    h = w
                lms.append(s)
                ns.append(len(ws))
            return pd.DataFrame({"lm": lms, "n": ns})

        scol = f"__{prefix}s"
        out = (
            df.withColumn(scol, fold(_tokens(F.col(text_col))))
            .withColumn(f"{prefix}logmass", F.col(f"{scol}.lm"))
            .withColumn(f"{prefix}n", F.col(f"{scol}.n"))
            .drop(scol)
        )
        lm = F.col(f"{prefix}logmass")
        nn = F.col(f"{prefix}n")
        out = out.withColumn(
            prefix.rstrip("_"),
            F.round(F.exp(-lm / F.lit(float(_SCALE)) / nn), 6),
        )
        if keep_threshold is not None:
            thr_micro = round(math.log(float(keep_threshold)) * _SCALE)
            # ppl < thr  <=>  -logmass/(1e6 n) < ln(thr)
            #            <=>  logmass >= -n * thr_micro   (integer domain;
            # >= vs > differs only when exactly equal, pinned this way)
            out = out.withColumn(
                f"{prefix}keep",
                F.when(nn > 0, lm >= -nn * F.lit(thr_micro)),
            )
        return out

    # -- persistence -----------------------------------------------------
    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "version": 2,
                    "bigram_logp": self.bigram_logp,
                    "miss_logp": self.miss_logp,
                    "unk_penalty": self.unk_penalty,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "NGramLMModel":
        with open(path) as f:
            d = json.load(f)
        return cls(
            d["bigram_logp"], d["miss_logp"], d.get("unk_penalty", 0)
        )

    def __repr__(self):
        return (
            f"NGramLMModel(n_bigrams={len(self.bigram_logp)}, "
            f"vocab={len(self.miss_logp) - 2})"
        )


def train_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab: int = 50_000,
    max_ngrams: int = 1_000_000,
    alpha: float = 1.0,
    unk_penalty_logp: float = math.log(10_000.0),
) -> NGramLMModel:
    """Fit the bigram LM on a trusted corpus (CCNet trains on
    Wikipedia).  Distributed part: word counts -> deterministic
    vocabulary cut (``min_count`` floor, top ``max_vocab`` by count
    desc / word asc); transition counts over the ``<unk>``-mapped
    stream -> deterministic ``max_ngrams`` cut (count-based pruning —
    a DOCUMENTED cap: the dropped tail scores through the per-history
    miss mass, it does not vanish).  Driver part: additive-``alpha``
    log-probabilities over the collected bounded tables.  Both
    shuffles move (type, count) rows, never text."""
    words = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .count()
    )
    if min_count > 1:
        words = words.where(F.col("count") >= min_count)
    vocab_rows = (
        words.orderBy(F.col("count").desc(), F.col("w"))
        .limit(int(max_vocab))
        .collect()
    )
    vocab = {r["w"] for r in vocab_rows}
    vmap = {w: 1 for w in vocab}  # one-row broadcast membership map
    vrow = local_table(df.sparkSession, [(vmap,)], "__v map<string, int>")
    toks = _tokens(F.col(text_col))
    mapped = F.transform(
        toks,
        lambda t: F.when(
            F.element_at(F.col("__v"), t).isNotNull(), t
        ).otherwise(F.lit(_UNK)),
    )
    pairs = (
        df.crossJoin(F.broadcast(vrow))
        .select(mapped.alias("m"))
        .where(F.size("m") > 0)
        .select(
            F.explode(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(_BOS)),
                        F.slice(
                            F.col("m"), 1,
                            F.greatest(
                                F.size("m") - 1, F.lit(0)
                            ),
                        ),
                    ).alias("h"),
                    F.col("m").alias("w"),
                )
            ).alias("p")
        )
        .select(F.col("p.h").alias("h"), F.col("p.w").alias("w"))
        .groupBy("h", "w")
        .count()
    )
    bigram_rows = (
        pairs.orderBy(F.col("count").desc(), "h", "w")
        .limit(int(max_ngrams))
        .collect()
    )
    hist_counts: dict[str, int] = {w: 0 for w in vocab}
    hist_counts[_BOS] = 0
    hist_counts[_UNK] = 0
    for r in bigram_rows:
        hist_counts[r["h"]] = hist_counts.get(r["h"], 0) + r["count"]
    v_total = len(vocab) + 1  # target space: vocab + <unk>
    bigram_logp: dict[str, int] = {}
    for r in bigram_rows:
        denom = hist_counts[r["h"]] + alpha * v_total
        bigram_logp[f"{r['h']} {r['w']}"] = round(
            math.log((r["count"] + alpha) / denom) * _SCALE
        )
    miss_logp = {
        h: round(math.log(alpha / (c + alpha * v_total)) * _SCALE)
        for h, c in hist_counts.items()
    }
    return NGramLMModel(
        bigram_logp,
        miss_logp,
        round(float(unk_penalty_logp) * _SCALE),
    )


# ---------------------------------------------------------------------------
# DuckDB twins — generated from the same constants (langid twin pattern)


def ppl_tokens_sql(text_expr: str, vocabulary: set[str]) -> str:
    """DuckDB twin of the ``<unk>``-mapped token stream (stage it in a
    CTE — the log-mass fold references it per transition)."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    inlist = ", ".join(f"'{q(w)}'" for w in sorted(vocabulary))
    return (
        f"list_transform("
        f"regexp_extract_all(lower({text_expr}), '{_WORD_RE}'), "
        f"t -> CASE WHEN t IN ({inlist}) THEN t ELSE '{_UNK}' END)"
    )


def ppl_logmass_sql(model: NGramLMModel, tok_ref: str) -> str:
    """DuckDB twin of the integer log-mass fold over an ALREADY-STAGED
    mapped-token list column: per transition, the bigram CASE chain
    with the per-history miss CASE as fallback — generated from the
    SAME pinned constants, so a single wrong micro-nat breaks the
    certified hash.  Intended for TINY pinned models (the certified
    section); production scoring stays in the engine."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    h = f"(CASE WHEN i = 1 THEN '{_BOS}' ELSE {tok_ref}[i - 1] END)"
    w = f"{tok_ref}[i]"
    bi_cases = " ".join(
        f"WHEN {h} || ' ' || {w} = '{q(k)}' THEN CAST({v} AS BIGINT)"
        for k, v in sorted(model.bigram_logp.items())
    )
    miss_cases = " ".join(
        f"WHEN {h} = '{q(k)}' THEN CAST({v} AS BIGINT)"
        for k, v in sorted(model.miss_logp.items())
    )
    per_step = (
        f"(CASE {bi_cases} ELSE (CASE {miss_cases} END) END) "
        f"- (CASE WHEN {w} = '{_UNK}' "
        f"THEN CAST({model.unk_penalty} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )
    return (
        f"CAST(list_sum(list_transform(range(1, len({tok_ref}) + 1), "
        f"i -> {per_step})) AS BIGINT)"
    )

"""Pure-Python/numpy core of the Monotone Optimal Binning algorithm.

Clean-room reimplementation of the semantics of the reference library
(PedroHBM/woe-monotonic-binning, ``woe_monotonic_binning/binning.py``).
Every behavioural decision cites the reference as ``binning.py:<line>``;
the code itself is written from scratch against those semantics.

Design split (SURVEY.md section 7): everything in this module operates on the
*per-variable group summary* — one entry per distinct feature value with the
target's (count, sum, sum-of-squares) — never on raw rows.  Raw-row work
(the group-by itself) happens Spark-side in ``fit.py``; this module is what
runs inside the ``applyInPandas`` grouped-map UDF, where the input is at most
``k`` rows (k = number of distinct values, optionally capped by quantile
pre-binning).

Documented deviations from the reference (see also SURVEY.md section 2.1):

D1  Direction heuristic (binning.py:111-119) slices the first/last quartile
    of the *row-ordered* sorted dataset; when the quartile boundary cuts
    through a group of identical feature values the reference's answer
    depends on the incoming row order (pandas stable sort).  A distributed
    engine has no row order, so we apportion the straddling group's target
    sum pro-rata to the overlap.  Identical whenever the boundary falls on a
    group edge or the straddling group is pure.
D2  Q1 double penalty (binning.py:197-207): the reference adds +1 twice; we
    add +2.0 once — numerically identical.
D3  Q2 tie patch (binning.py:219-224): the reference patches pooled stats
    into every row whose p-value ties the max; we patch the merged row by
    position (identical except in pathological float ties).
D4  Q8: the leftover debug ``print(1)`` (binning.py:56) is not replicated.
D5  ``sep_value=0.0`` is ACTIVE here.  The reference gates the sep path with
    a truthiness test (``if sep_value:`` at binning.py:88), so a special
    value of 0.0 — a perfectly common sentinel — silently falls through to
    the plain fit.  This engine treats ``sep_value is not None`` as enabled
    (fit.py ``_fit_udf``); pass ``sep_value=None`` to disable.
D6  Variables that never take the sep value fall back to the plain fit.
    The reference unconditionally partitions on ``== sep_value`` and then
    indexes the (empty) sep partition's bins (binning.py:35-42 ->
    IndexError); this engine only takes the sep path when the value is
    actually present, so ``batch`` fits over mixed columns succeed.
D8  Max-p tie double-count (sharpens D3/Q2; found live by
    tests/test_fuzz_parity.py in round 3).  The reference's post-merge
    patch (binning.py:219-224) writes ``updated_size``/``updated_mean``
    into EVERY surviving row whose ``p_value == max_p``.  When two or more
    pairs tie at exactly max_p — common once the +1/+1 small-bin penalties
    saturate several pairs at the same value — a row that was NEVER merged
    absorbs its right neighbour's counts while that neighbour stays in the
    table, so the reference's bin sizes sum to MORE than the row count
    (the pinned 40-row counterexample in
    tests/test_fuzz_parity.py::test_d8_maxp_tie_double_count: the
    reference yields bins [6, 62], sum 68 > 40, where this engine yields
    [6, 34]).  This engine patches only
    the argmax pair by position, keeping ``sum(size) == n`` — an invariant
    its own property tests and WOE totals depend on — so it intentionally
    does NOT replicate the double count.  ``ztest_merge(diag=...)`` reports
    when a draw hits the tie so the fuzz harness can bound the ambiguous
    set exactly, as D1 does for direction ties.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

BINS_COLUMNS = [
    "variable",
    "interval_start_include",
    "interval_end_exclude",
    "size",
    "mean",
    "bads",
    "goods",
    "dist_good",
    "dist_bad",
    "woe",
    "iv_components",
]

# ---------------------------------------------------------------------------
# scalar helpers
# ---------------------------------------------------------------------------

try:  # prefer scipy when present (not in the target container)
    from scipy.stats import norm as _scipy_norm

    def _norm_cdf_vec(z: np.ndarray) -> np.ndarray:
        return _scipy_norm.cdf(z)

except ImportError:  # math.erf identity: Phi(z) = (1 + erf(z/sqrt(2))) / 2
    _SQRT2 = math.sqrt(2.0)

    def _erf_scalar(x: float) -> float:
        if math.isnan(x):
            return math.nan
        return math.erf(x)

    _erf_vec = np.vectorize(_erf_scalar, otypes=[np.float64])

    def _norm_cdf_vec(z: np.ndarray) -> np.ndarray:
        z = np.asarray(z, dtype=np.float64)
        out = np.empty_like(z)
        finite = np.isfinite(z)
        out[~finite] = np.where(np.isnan(z[~finite]), np.nan, (z[~finite] > 0).astype(np.float64))
        if finite.any():
            out[finite] = 0.5 * (1.0 + _erf_vec(z[finite] / _SQRT2))
        return out


def _std_from_moments(size: np.ndarray, bads: np.ndarray, sumsq: np.ndarray) -> np.ndarray:
    """Sample (ddof=1) std of the target within a group from its moments.

    Equals pandas ``groupby(...).agg('std')`` (binning.py:121) followed by the
    ``fillna(0)`` at binning.py:129 for singleton groups.
    """
    size = np.asarray(size, dtype=np.float64)
    bads = np.asarray(bads, dtype=np.float64)
    sumsq = np.asarray(sumsq, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = bads / size
        ss = np.maximum(sumsq - size * mean * mean, 0.0)
        var = ss / (size - 1.0)
    return np.where(size > 1, np.sqrt(var), 0.0)


# ---------------------------------------------------------------------------
# summary container
# ---------------------------------------------------------------------------


@dataclass
class GroupSummary:
    """Per-distinct-value aggregate of one feature column vs the target.

    ``values`` excludes the missing group; missing rows are carried in
    ``nan_size``/``nan_bads`` (they feed the NaN bin, binning.py:233-238, and
    the direction heuristic's last quartile, quirk Q5).
    """

    variable: str
    values: np.ndarray  # distinct non-missing feature values (any order)
    sizes: np.ndarray   # row count per value
    bads: np.ndarray    # sum of target per value
    sumsq: np.ndarray   # sum of target^2 per value
    nan_size: float = 0.0
    nan_bads: float = 0.0

    def sorted_asc(self) -> "GroupSummary":
        order = np.argsort(self.values, kind="mergesort")
        return GroupSummary(
            self.variable,
            self.values[order],
            self.sizes[order],
            self.bads[order],
            self.sumsq[order],
            self.nan_size,
            self.nan_bads,
        )

    @property
    def total_rows(self) -> float:
        return float(self.sizes.sum() + self.nan_size)

    @property
    def total_bads(self) -> float:
        return float(self.bads.sum() + self.nan_bads)


def summary_from_pandas(pdf: pd.DataFrame, variable: str | None = None) -> GroupSummary:
    """Build a GroupSummary from the Spark-side aggregate (fit.py::summarize).

    Expects columns ``variable, value, size, bads, sumsq`` where ``value`` is
    NULL/NaN for the missing group.
    """
    if variable is None:
        variable = str(pdf["variable"].iloc[0])
    value = pdf["value"].to_numpy(dtype=np.float64, na_value=np.nan)
    missing = np.isnan(value)
    nan_size = float(pdf.loc[missing, "size"].sum())
    nan_bads = float(pdf.loc[missing, "bads"].sum())
    keep = ~missing
    return GroupSummary(
        variable=variable,
        values=value[keep],
        sizes=pdf.loc[keep, "size"].to_numpy(dtype=np.float64),
        bads=pdf.loc[keep, "bads"].to_numpy(dtype=np.float64),
        sumsq=pdf.loc[keep, "sumsq"].to_numpy(dtype=np.float64),
        nan_size=nan_size,
        nan_bads=nan_bads,
    )


# ---------------------------------------------------------------------------
# stage 1 — direction heuristic (binning.py:110-119)
# ---------------------------------------------------------------------------


def detect_direction(s: GroupSummary) -> bool:
    """True => ascending bins table (reference ``order=True``).

    The reference sorts raw rows by the feature (NaN last — quirk Q5) and
    compares sum(target) over the first ``floor(n/4)`` rows against the last
    ``n - floor(3n/4)`` rows (binning.py:111-119).  We reconstruct those sums
    from the group summary, apportioning a straddled group pro-rata (D1).

    Deviation D1, precisely: when a quartile boundary falls inside a tied
    value group whose rows have MIXED targets, the reference's answer
    depends on quicksort's tie permutation of physically identical rows —
    unrecoverable from aggregates, and not meaningful at scale.  Pro-rata
    equals the reference exactly whenever straddled groups are target-pure
    or no group straddles a boundary (the common case; fuzz-verified in
    tests/test_fuzz_parity.py, which bounds the ambiguity set exactly).
    """
    srt = s.sorted_asc()
    sizes = np.append(srt.sizes, srt.nan_size)  # NaN group sorts last
    bads = np.append(srt.bads, srt.nan_bads)
    n = sizes.sum()
    if n == 0:
        return False
    q1_hi = float(int(n / 4))            # binning.py:114 int(size/4)
    q4_lo = float(int(n * 3 / 4))        # binning.py:114 int(size*3/4)
    cum_hi = np.cumsum(sizes)
    cum_lo = cum_hi - sizes

    def range_bads(lo: float, hi: float) -> float:
        overlap = np.minimum(cum_hi, hi) - np.maximum(cum_lo, lo)
        overlap = np.clip(overlap, 0.0, None)
        with np.errstate(invalid="ignore", divide="ignore"):
            frac = np.where(sizes > 0, overlap / sizes, 0.0)
        return float(np.sum(frac * bads))

    return range_bads(0.0, q1_hi) > range_bads(q4_lo, n)


# ---------------------------------------------------------------------------
# stage 2 — PAVA monotone pooling (binning.py:133-178)
# ---------------------------------------------------------------------------


def pava_pool(values, means, sizes, stds):
    """Pool adjacent groups until means are strictly decreasing in table
    order — bit-identical to the test oracle ``pava_pool_sweep``
    (tests/pava_oracle.py: the reference's repeated-sweep transcription,
    binning.py:133-178) but O(k) total.

    Why a worklist instead of the textbook stack PAVA: the pooled stats
    are NOT associative under the reference's conventions (float summation
    order in the weighted mean; the quirk-Q12 ``n == 2`` std special
    case), and the stack form pools a raised anchor into its LEFT
    neighbour immediately where the sweep form finishes the anchor's
    rightward run first — measurably different last-ulp results on ~40%
    of random draws.  This replay instead executes the sweep algorithm's
    EXACT operation sequence and merely skips the re-scans that cannot
    pool: after a sweep, a violating adjacent pair can only sit at
    ``(prev(y), y)`` where ``y`` is an anchor whose mean rose in that
    sweep (every other adjacent pair was explicitly verified decreasing
    at a moment when both sides already had their final sweep values), so
    the next sweep's walk over the clean spans is a no-op and the
    candidate list IS the sweep.  Total work is O(k + total pools) vs the
    sweep's O(k * sweeps) — at ``max_distinct=8192`` that is the
    difference between ~8k and ~67M interpreter steps inside the fit's
    Arrow UDF.

    Pooling math (identical expressions, identical operand order):
    weighted mean (binning.py:152-153); pooled std per quirk Q12 —
    ``n == 2`` -> population std of the two *means* (binning.py:155-156),
    else sqrt(weighted mean of variances) (binning.py:158-159); the
    surviving group keeps the anchor's value.  Exact float equality with
    the ``pava_pool_sweep`` test oracle is pinned across the deep fuzz
    corpus (tests/test_fuzz_parity.py).
    """
    k = len(means)
    v = list(map(float, values))
    m = list(map(float, means))
    sz = list(map(float, sizes))
    st = list(map(float, stds))
    if k <= 1:
        return (
            np.asarray(v, dtype=np.float64),
            np.asarray(m, dtype=np.float64),
            np.asarray(sz, dtype=np.float64),
            np.asarray(st, dtype=np.float64),
        )
    nxt = list(range(1, k)) + [k]  # k = end sentinel
    prv = [-1] + list(range(k - 1))
    alive = [True] * k
    # sweep 1 scans every pair; later sweeps only the raised anchors
    candidates = list(range(1, k))
    while candidates:
        new_cands: list[int] = []
        frontier = -1  # rightmost index whose left pair is verified this sweep
        for y in candidates:
            if not alive[y] or y <= frontier:
                continue  # consumed by an earlier run, or already verified
            i = prv[y]
            if i < 0:
                continue  # list head has no left pair
            if m[y] < m[i]:
                frontier = y  # pair (i, y) verified decreasing
                continue
            new_cands.append(i)  # anchor's mean rises: recheck next sweep
            j = y
            while True:  # pool the run starting at j into anchor i
                n = sz[j] + sz[i]
                mm = (sz[j] * m[j] + sz[i] * m[i]) / n
                if n == 2:
                    ss = abs(m[j] - m[i]) / 2.0  # np.std of the two means
                else:
                    ss = math.sqrt((sz[j] * st[j] ** 2 + sz[i] * st[i] ** 2) / n)
                sz[i], m[i], st[i] = n, mm, ss
                alive[j] = False
                nj = nxt[j]
                nxt[i] = nj
                if nj < k:
                    prv[nj] = i
                j = nj
                if j >= k:
                    frontier = k
                    break
                if m[j] < m[i]:
                    frontier = j  # run ends; pair (i, j) verified
                    break
        candidates = new_cands
    idx = [x for x in range(k) if alive[x]]
    return (
        np.asarray([v[x] for x in idx], dtype=np.float64),
        np.asarray([m[x] for x in idx], dtype=np.float64),
        np.asarray([sz[x] for x in idx], dtype=np.float64),
        np.asarray([st[x] for x in idx], dtype=np.float64),
    )


# ---------------------------------------------------------------------------
# stage 3 — z-test merge loop (binning.py:180-224)
# ---------------------------------------------------------------------------


def ztest_merge(values, means, sizes, stds, n_threshold, n_occurences, p_threshold, diag=None):
    """Merge adjacent bins while the largest pairwise p-value exceeds the cap.

    Per pass (binning.py:181-195): pooled variance with an ``n-2``
    denominator (quirk Q12), two-sample z, p = 1 - Phi(z).  Pairs touching a
    bin below ``n_threshold`` rows or below ``n_occurences`` expected bads
    get the penalty (+2.0; D2 for quirk Q1).  The argmax pair merges: the
    right row is dropped, the left takes the pooled stats (D3 for quirk Q2).
    The last row's p is NaN (no next bin) and is skipped by the argmax, like
    pandas ``idxmax`` (quirk Q9).

    ``diag``: optional dict.  When provided, ``diag["maxp_tie"]`` is set to
    True if any executed merge iteration has a SECOND surviving row whose p
    ties the max — the draws where the reference's value-equality patch
    double-counts (deviation D8/quirk Q14) and exact parity is undefined.
    """
    v = np.asarray(values, dtype=np.float64)
    m = np.asarray(means, dtype=np.float64)
    sz = np.asarray(sizes, dtype=np.float64)
    st = np.asarray(stds, dtype=np.float64)
    while len(m) > 1:
        nm = np.append(m[1:], np.nan)
        nsz = np.append(sz[1:], np.nan)
        nst = np.append(st[1:], np.nan)
        with np.errstate(divide="ignore", invalid="ignore"):
            u_sz = nsz + sz
            u_m = (nm * nsz + m * sz) / u_sz
            u_var = (nsz * nst**2 + sz * st**2) / (u_sz - 2.0)
            z = (m - nm) / np.sqrt(u_var * (1.0 / sz + 1.0 / nsz))
        p = 1.0 - _norm_cdf_vec(z)
        with np.errstate(invalid="ignore"):
            small = (
                (sz < n_threshold)
                | (nsz < n_threshold)
                | (m * sz < n_occurences)
                | (nm * nsz < n_occurences)
            )
        p = np.where(small, p + 2.0, p)
        if np.all(np.isnan(p)):
            break
        max_p = np.nanmax(p)
        if not (max_p > p_threshold):
            break
        idx = int(np.nanargmax(p))  # first occurrence, NaN-skipping, like idxmax
        if diag is not None:
            # D8: the reference patches every SURVIVING row with p == max_p
            # (binning.py:219-224 run after dropping row idx+1).  More than
            # one such row => a never-merged row absorbs its neighbour.
            # The reference's patch predicate is EXACT float equality; the
            # 1e-12 relative tolerance here is deliberately WIDER: the
            # reference computes p through a different pipeline (pandas
            # vectorized + row-apply), so a tie in reference-space need not
            # be bit-exact in this one.  Over-flagging is safe for the one
            # consumer of this diag — the fuzz harness skips flagged draws,
            # so a false positive only costs an extra draw, while a missed
            # tie would assert exact parity on a draw where the reference
            # double-counts.
            surv = np.delete(p, idx + 1)
            with np.errstate(invalid="ignore"):
                ties = np.abs(surv - max_p) <= 1e-12 * max(1.0, abs(max_p))
            if int(ties.sum()) > 1:
                diag["maxp_tie"] = True
        v = np.delete(v, idx + 1)
        m = np.delete(m, idx + 1)
        sz = np.delete(sz, idx + 1)
        st = np.delete(st, idx + 1)
        m[idx] = u_m[idx]
        sz[idx] = u_sz[idx]
        st[idx] = math.sqrt(u_var[idx]) if u_var[idx] >= 0 else np.nan
    return v, m, sz, st


# ---------------------------------------------------------------------------
# stage 4 — intervals, NaN bin, WOE/IV (binning.py:226-251)
# ---------------------------------------------------------------------------


def build_bins_frame(variable, values, means, sizes, order, nan_size, nan_bads):
    """Assemble the 11-column bins table from the merged summary.

    Intervals (binning.py:226-231): start = group value, end = next start,
    last end = +inf (ascending) / -inf (descending), first start = the
    opposite infinity.  NaN bin appended when the feature has missing rows
    (binning.py:233-238).  WOE/IV (binning.py:240-251) use totals that
    INCLUDE the NaN bin.
    """
    interval_end = math.inf if order else -math.inf
    starts = np.asarray(values, dtype=np.float64).copy()
    if len(starts) > 0:
        ends = np.append(starts[1:], interval_end)
        starts[0] = -interval_end
    else:  # no non-missing values at all -> only the NaN bin below
        ends = np.array([], dtype=np.float64)
    size = np.asarray(sizes, dtype=np.float64)
    mean = np.asarray(means, dtype=np.float64)
    if nan_size > 0:
        starts = np.append(starts, np.nan)
        ends = np.append(ends, np.nan)
        size = np.append(size, float(nan_size))
        mean = np.append(mean, float(nan_bads) / float(nan_size))
    with np.errstate(divide="ignore", invalid="ignore"):
        bads = mean * size
        goods = size - bads
        dist_good = goods / goods.sum()
        dist_bad = bads / bads.sum()
        woe = np.log(dist_bad / dist_good)
        iv = (dist_bad - dist_good) * woe
    return pd.DataFrame(
        {
            "variable": variable,
            "interval_start_include": starts,
            "interval_end_exclude": ends,
            "size": size,
            "mean": mean,
            "bads": bads,
            "goods": goods,
            "dist_good": dist_good,
            "dist_bad": dist_bad,
            "woe": woe,
            "iv_components": iv,
        },
        columns=BINS_COLUMNS,
    )


def _dropna_count(df: pd.DataFrame) -> int:
    return int(df.notna().all(axis=1).sum())


def merge_bins_rows(df: pd.DataFrame, lo: int, hi: int) -> pd.DataFrame:
    """Merge contiguous bin rows [lo..hi] into one (binning.py:14-29).

    Combined stats are re-derived from sums; distribution denominators are
    the whole-table totals (including the NaN bin), which merging preserves.
    Positional indexing; the NaN bin row, when present, is last.
    """
    total_goods = df["goods"].sum()
    total_bads = df["bads"].sum()
    block = df.iloc[lo : hi + 1]
    size = block["size"].sum()
    bads = block["bads"].sum()
    goods = block["goods"].sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = bads / size
        dist_good = goods / total_goods
        dist_bad = bads / total_bads
        woe = float(np.log(np.float64(dist_bad) / np.float64(dist_good)))
        iv = (dist_bad - dist_good) * woe
    merged = {
        "variable": df["variable"].iloc[0],
        "interval_start_include": df["interval_start_include"].iloc[lo],
        "interval_end_exclude": df["interval_end_exclude"].iloc[hi],
        "size": size,
        "mean": mean,
        "bads": bads,
        "goods": goods,
        "dist_good": dist_good,
        "dist_bad": dist_bad,
        "woe": woe,
        "iv_components": iv,
    }
    out = pd.concat(
        [df.iloc[:lo], pd.DataFrame([merged], columns=BINS_COLUMNS), df.iloc[hi + 1 :]],
        ignore_index=True,
    )
    return out


def merge_threshold_loop(df: pd.DataFrame, merge_threshold: float) -> pd.DataFrame:
    """Collapse adjacent bins with near-equal |WOE| (binning.py:253-263).

    Control flow is replicated exactly, including the early-exit check that
    compares the last scanned pair index against the *post-merge* bin count
    (binning.py:262).  Division by a zero |woe| follows numpy float
    semantics (inf / NaN -> condition False), as in pandas.

    Deviation (quirk Q13, found by tests/test_fuzz_parity.py): merging the
    final pair of a 2-bin NaN-free table crashes the reference with
    IndexError (binning.py:27-28 drops both rows, leaving nothing to index);
    here the merge succeeds and returns the single combined bin.
    """
    while True:
        k = _dropna_count(df)
        if k <= 1:
            break
        i = None
        for i in range(k - 1):
            w0 = float(df["woe"].iloc[i])
            w1 = float(df["woe"].iloc[i + 1])
            with np.errstate(divide="ignore", invalid="ignore"):
                ratio = np.float64(abs(abs(w0) - abs(w1))) / np.float64(abs(w0))
            if ratio <= merge_threshold:
                df = merge_bins_rows(df, i, i + 1)
                break
        if i is None or i == _dropna_count(df) - 2:
            break
    return df


# ---------------------------------------------------------------------------
# full per-variable fit
# ---------------------------------------------------------------------------


@dataclass
class FitParams:
    n_threshold: float | None = None  # None -> ceil(n/20) (binning.py:84-87)
    n_occurences: float = 1.0
    p_threshold: float = 0.1
    sort_overload: bool | None = None  # quirk Q4: falsy falls through
    merge_threshold: float | None = None
    sep_value: float | None = None

    def resolved_threshold(self, n_rows: float) -> float:
        if self.n_threshold is None:
            return float(math.ceil(n_rows / 20.0))
        return float(self.n_threshold)


def fit_variable(s: GroupSummary, params: FitParams, diag=None) -> pd.DataFrame:
    """Fit the bins table for one variable from its group summary.

    Mirrors ``woe_binning`` (binning.py:103-265) minus the degenerate guard,
    which the Spark layer handles (it knows the column names).

    ``diag`` is forwarded to :func:`ztest_merge` (D8 tie detection).
    """
    if len(s.values) == 0 and s.nan_size == 0:
        return pd.DataFrame(columns=BINS_COLUMNS)
    order = detect_direction(s)
    srt = s.sorted_asc()
    # quirk Q4: ``ascending = (sort_overload or order)``
    ascending = bool(params.sort_overload or order)
    if not ascending:
        srt = GroupSummary(
            srt.variable,
            srt.values[::-1].copy(),
            srt.sizes[::-1].copy(),
            srt.bads[::-1].copy(),
            srt.sumsq[::-1].copy(),
            srt.nan_size,
            srt.nan_bads,
        )
    with np.errstate(divide="ignore", invalid="ignore"):
        means = srt.bads / srt.sizes
    stds = _std_from_moments(srt.sizes, srt.bads, srt.sumsq)
    n_thr = params.resolved_threshold(s.total_rows)

    if len(srt.values) > 0:
        v, m, sz, st = pava_pool(srt.values, means, srt.sizes, stds)
        v, m, sz, st = ztest_merge(
            v, m, sz, st, n_thr, params.n_occurences, params.p_threshold, diag=diag
        )
    else:
        v = np.array([], dtype=np.float64)
        m = np.array([], dtype=np.float64)
        sz = np.array([], dtype=np.float64)

    bins = build_bins_frame(s.variable, v, m, sz, order, s.nan_size, s.nan_bads)
    if params.merge_threshold:
        bins = merge_threshold_loop(bins, params.merge_threshold)
    return bins


def fit_variable_sep(s: GroupSummary, params: FitParams) -> pd.DataFrame:
    """Fit with one special value forced into its own bin (binning.py:32-75).

    The sep partition's lone bin keeps only its aggregate stats (its interval
    bounds and WOE are overwritten below, binning.py:37-42 and 49-71); its
    distributions are re-based on GLOBAL totals while the remainder's WOE
    keeps partition-local totals — asymmetric by design (SURVEY op 20).
    """
    sep_value = float(params.sep_value)  # type: ignore[arg-type]
    is_sep = s.values == sep_value
    if not is_sep.any():
        raise ValueError(
            f"sep_value {sep_value!r} not present in variable {s.variable!r}"
        )
    sep_size = float(s.sizes[is_sep].sum())
    sep_bads = float(s.bads[is_sep].sum())
    # NaN rows compare unequal to sep_value in pandas, so they stay in the
    # remainder partition (binning.py:43) together with its NaN bin.
    rest = GroupSummary(
        s.variable,
        s.values[~is_sep],
        s.sizes[~is_sep],
        s.bads[~is_sep],
        s.sumsq[~is_sep],
        s.nan_size,
        s.nan_bads,
    )
    global_bads = s.total_bads
    global_goods = s.total_rows - global_bads
    a_mean = sep_bads / sep_size
    a_goods = sep_size - sep_bads
    with np.errstate(divide="ignore", invalid="ignore"):
        a_dist_bad = np.float64(sep_bads) / np.float64(global_bads)
        a_dist_good = np.float64(a_goods) / np.float64(global_goods)
        a_woe = float(np.log(a_dist_bad / a_dist_good))
        a_iv = float((a_dist_bad - a_dist_good) * a_woe)
    a = pd.DataFrame(
        [
            {
                "variable": s.variable,
                "interval_start_include": sep_value,  # overwritten per-branch
                "interval_end_exclude": sep_value,
                "size": sep_size,
                "mean": a_mean,
                "bads": sep_bads,
                "goods": a_goods,
                "dist_good": float(a_dist_good),
                "dist_bad": float(a_dist_bad),
                "woe": a_woe,
                "iv_components": a_iv,
            }
        ],
        columns=BINS_COLUMNS,
    )

    rest_params = FitParams(
        n_threshold=params.n_threshold,
        n_occurences=params.n_occurences,
        p_threshold=params.p_threshold,
        sort_overload=params.sort_overload,
        merge_threshold=params.merge_threshold,
        sep_value=None,
    )
    b = fit_variable(rest, rest_params)

    nan_row = None
    if len(b) and math.isnan(b["interval_start_include"].iloc[-1]):
        nan_row = b.iloc[[-1]]
        b = b.iloc[:-1].reset_index(drop=True)

    first_start = float(b["interval_start_include"].iloc[0])
    last_start = float(b["interval_start_include"].iloc[-1])
    first_end = float(b["interval_end_exclude"].iloc[0])
    eps = 1e-5  # binning.py:51,53,68,70
    if first_start < last_start:  # ascending remainder (binning.py:49)
        if sep_value < first_end:  # sep below the data: open the bottom (50-54)
            a.loc[0, "interval_end_exclude"] = sep_value + eps
            a.loc[0, "interval_start_include"] = -math.inf
            b.loc[0, "interval_start_include"] = sep_value + eps
            out = pd.concat([a, b], ignore_index=True)
        else:  # sep above: top bin [sep, inf) (55-60, debug print dropped, D4)
            a.loc[0, "interval_start_include"] = sep_value
            a.loc[0, "interval_end_exclude"] = math.inf
            b.loc[len(b) - 1, "interval_end_exclude"] = sep_value
            out = pd.concat([b, a], ignore_index=True)
    else:  # descending remainder (binning.py:61)
        if sep_value < first_end:  # (62-66)
            a.loc[0, "interval_start_include"] = sep_value
            a.loc[0, "interval_end_exclude"] = -math.inf
            b.loc[len(b) - 1, "interval_end_exclude"] = sep_value
            out = pd.concat([b, a], ignore_index=True)
        else:  # (67-71)
            a.loc[0, "interval_end_exclude"] = sep_value - eps
            a.loc[0, "interval_start_include"] = math.inf
            b.loc[0, "interval_start_include"] = sep_value - eps
            out = pd.concat([a, b], ignore_index=True)
    if nan_row is not None:
        out = pd.concat([out, nan_row], ignore_index=True)
    return out


def degenerate_bins(variable: str) -> pd.DataFrame:
    """Column name == target name -> all-zero single-row table (binning.py:106-109)."""
    row = {c: 0.0 for c in BINS_COLUMNS}
    row["variable"] = variable
    return pd.DataFrame([row], columns=BINS_COLUMNS)

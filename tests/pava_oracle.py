"""Test oracle for ``_algo.pava_pool``: the literal transcription of the
reference's repeated-sweep PAVA control flow (binning.py:133-178).

``pava_pool`` replays the same pooling operations in the same order in
O(k); tests/test_fuzz_parity.py and tests/test_algo_adversarial.py pin
exact float equality between the two.
"""

from __future__ import annotations

import math

import numpy as np


def pava_pool_sweep(values, means, sizes, stds):
    """Pool adjacent groups until means are strictly decreasing in table
    order — the LITERAL transcription of the reference's repeated-sweep
    control flow (binning.py:133-178).  Retained as the bit-exactness
    oracle for :func:`pava_pool` (the worklist replay below performs the
    SAME pooling operations in the SAME order; exact float equality is
    pinned by tests/test_fuzz_parity.py) — O(k * sweeps) = O(k^2) worst
    case, so the production path is ``pava_pool``.

    Sweep semantics: repeat full sweeps until one deletes nothing; within
    a sweep, walk pairs and pool every run of non-decreasing means into
    its left anchor, using the weighted mean (binning.py:152-153) and the
    reference's pooled-std conventions (quirk Q12): ``n == 2`` ->
    population std of the two *means* (binning.py:155-156), else
    sqrt(weighted mean of variances) (binning.py:158-159).  The surviving
    group keeps the anchor's value.
    """
    v = list(map(float, values))
    m = list(map(float, means))
    sz = list(map(float, sizes))
    st = list(map(float, stds))
    while True:
        k = len(m)
        dead = [False] * k
        pooled_any = False
        i = 0
        while True:
            j = i + 1
            if j >= k:
                break
            if m[j] < m[i]:
                i += 1
                continue
            while True:  # pool the run starting at j into anchor i
                n = sz[j] + sz[i]
                mm = (sz[j] * m[j] + sz[i] * m[i]) / n
                if n == 2:
                    ss = abs(m[j] - m[i]) / 2.0  # np.std of the two means, ddof=0
                else:
                    ss = math.sqrt((sz[j] * st[j] ** 2 + sz[i] * st[i] ** 2) / n)
                sz[i], m[i], st[i] = n, mm, ss
                dead[j] = True
                pooled_any = True
                j += 1
                if j >= k:
                    break
                if m[j] < m[i]:
                    i = j
                    break
            if j >= k:
                break
        if pooled_any:
            v = [x for x, d in zip(v, dead) if not d]
            m = [x for x, d in zip(m, dead) if not d]
            sz = [x for x, d in zip(sz, dead) if not d]
            st = [x for x, d in zip(st, dead) if not d]
        else:
            break
    return (
        np.asarray(v, dtype=np.float64),
        np.asarray(m, dtype=np.float64),
        np.asarray(sz, dtype=np.float64),
        np.asarray(st, dtype=np.float64),
    )

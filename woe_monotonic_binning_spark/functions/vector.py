"""Vector column functions over ``array<float/double>`` embeddings.

Built on higher-order functions (``zip_with`` + ``aggregate``) so the dot
products run inside codegen on the JVM — no UDF, no serialisation.  For very
wide vectors a Pandas-UDF/BLAS path wins; see ``operators/similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of the angle between ``a`` and ``b``; NULL when either
    vector has zero norm (no defined direction).  ``try_divide``, not
    ``/``: a plain 0/0 yields NaN (or a hard ANSI error), and Spark ranks
    NaN ABOVE every real number — an all-zero embedding would surface as
    the rank-1 neighbor of every query and pass ``>= threshold`` filters
    (round-8 review).  NULL instead sorts last under ``desc()`` and fails
    every threshold comparison, so degenerate vectors drop out of
    similarity results rather than dominating them."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_from_norms(a: Column, b: Column, n_a: Column, n_b: Column) -> Column:
    """``cosine_similarity`` with the two L2 norms precomputed — pass
    ``norm(v)`` computed ONCE PER ROW (before a self-join / explode) and
    the pair cost drops from three array folds to one (the dot product).
    Bit-identical floats to ``cosine_similarity``: same expressions, same
    evaluation order, same NULL-on-zero-norm ``try_divide`` semantics —
    only the norms' evaluation site moves, so oracle-certified consumers
    (q_sim_search, q_dedup_embedding) hash identically.  Round 9: the two
    norm folds dominated every pair stage (SemDeDup sf1: 129s before the
    per-row hoist)."""
    return F.try_divide(dot(a, b), n_a * n_b)


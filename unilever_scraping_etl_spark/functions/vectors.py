"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.10
L3), in two forms.

The expression forms (``dot``, ``norm``, ``cosine``, ``l2_distance``)
are JVM-side higher-order functions — the Catalyst-native way to do
per-row linear algebra without leaving codegen. Accumulation is in
double precision and strictly left-to-right (``F.aggregate`` is a
sequential fold), which makes results deterministic for a given row —
required for oracle comparison and for reproducible top-k at scale.

``cosine_blocks`` is the one numpy cosine kernel behind every
Arrow-lane similarity operator (the top-k, range and near-pair grids,
the LSH verify, the semdedup prune): it stacks the vector column,
normalizes, bounds the pair matrix in row blocks and rounds like the
oracle, so those decisions live here once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))


COSINE_BLOCK_ROWS = 8192
"""Row-block bound of :func:`cosine_blocks`: a task holds at most
B x |right side| fp64 pair scores at once (8192 x 8192 is ~512 MB),
so a hot grid cell or semdedup cluster is a bounded sequence of GEMM
blocks, never one O(K^2) allocation. Operators read it on the driver
when they build the plan and pass it to the kernel."""


def _stack(vectors) -> np.ndarray:
    """A vector column as a grouped/batched pandas UDF receives it (a
    Series of arrays) -> a (rows x dim) float64 matrix."""
    return np.vstack(vectors.to_numpy()).astype("float64")


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm. The 1e-300 floor scores a zero
    vector as cosine 0.0 instead of NaN (a zero embedding is a data
    bug, not a reason for NULL-sensitive output)."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)


def _round_half_up(x, digits: int):
    """Round half away from zero at ``digits`` decimals on the scaled
    double: sign(x) * floor(|x| * 10^d + 0.5) / 10^d.

    This is the DuckDB oracle's rule. numpy's ``np.round`` rounds half
    to even, so an exact binary tie differs: 0.25 at 1 digit is 0.3
    here and in DuckDB, 0.2 under np.round. Spark's ``F.round`` rounds
    half-up on the double's SHORTEST decimal repr instead
    (BigDecimal.valueOf), which differs from this rule on decimal ties
    that are not binary ties: the double nearest 0.285 is
    0.28499999..., so at 2 digits this kernel and DuckDB give 0.28 and
    F.round gives 0.29. Such a value is exactly what a user types as a
    threshold, so a cosine landing on it can be scored differently by
    an expression (F.round) kernel and this one; the oracle is the
    tiebreaker, and this rule matches it."""
    scale = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def cosine_blocks(left, right, digits: int, block: int, norms=None):
    """Rounded cosine scores of every ``left`` row against every
    ``right`` row, in row blocks of ``block`` left rows.

    ``left`` and ``right`` are vector columns as pandas hands them to
    a grouped or batched UDF; passing the same Series twice stacks it
    once. Without ``norms`` both sides are L2-normalized (1e-300 floor)
    and then multiplied. With ``norms=(left_norms, right_norms)`` the
    raw product is divided by the outer product of those norms, e.g.
    the JVM-side sequential-fold norms carried on each row, which
    keeps the expression kernels' dot/(n_i*n_j) operation order; a
    zero norm then yields inf/NaN, which no ``>=`` threshold admits.
    Scores are rounded by :func:`_round_half_up` (the oracle's rule).

    Yields ``(lo, sims)``: ``sims[i, j]`` is the score of left row
    ``lo + i`` against right row ``j``. Each block holds at most
    ``block`` x len(right) doubles."""
    ml = _stack(left)
    mr = ml if right is left else _stack(right)
    if norms is None:
        ml = _unit_rows(ml)
        mr = ml if right is left else _unit_rows(mr)
    for lo in range(0, len(ml), block):
        prod = ml[lo:lo + block] @ mr.T
        if norms is None:
            sims = _round_half_up(prod, digits)
        else:
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = _round_half_up(
                    prod / np.outer(norms[0][lo:lo + block], norms[1]),
                    digits)
        yield lo, sims

"""Seeded input generators for the benchmark.

The generators live here, not in ``cugraph_spark.generators``, so that a
change to the library can never change what the benchmark feeds it. Every
generator returns undirected input edges ``(src, dst, weight)`` as NumPy
arrays; ``canonical_edges`` then derives the graph the library stores for
them, which is what the oracles run on.
"""

from __future__ import annotations

import numpy as np

RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19  # Graph500 partition probabilities
RMAT_EDGEFACTOR = 16
WEIGHT_LOW, WEIGHT_HIGH = 0.1, 1.0


def rmat(scale: int, seed: int, edgefactor: int = RMAT_EDGEFACTOR):
    """R-MAT edges on ``2**scale`` vertex ids, ``edgefactor << scale`` of
    them, Graph500 a/b/c, uniform weights in [0.1, 1.0). Each bit of both
    endpoints is drawn from the quadrant probabilities in one vectorized
    pass per level; no noise, no vertex permutation."""
    rng = np.random.default_rng(seed)
    m = edgefactor << scale
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for bit in range(scale):
        r = rng.random(m)
        src_bit = r >= RMAT_A + RMAT_B
        dst_bit = ((r >= RMAT_A) & (r < RMAT_A + RMAT_B)) | (r >= RMAT_A + RMAT_B + RMAT_C)
        src |= src_bit.astype(np.int64) << bit
        dst |= dst_bit.astype(np.int64) << bit
    return src, dst, rng.uniform(WEIGHT_LOW, WEIGHT_HIGH, m)


def lattice(rows: int, cols: int, seed: int):
    """A ``rows`` x ``cols`` 4-neighbour grid with uniform weights in
    [0.1, 1.0). Vertex ``r * cols + c`` sits at row r, column c, so vertex
    0 is a corner and the diameter is ``rows + cols - 2``. The seed moves
    only the weights; the shape is fixed."""
    rng = np.random.default_rng(seed)
    ids = np.arange(rows * cols, dtype=np.int64).reshape(rows, cols)
    src = np.concatenate([ids[:, :-1].ravel(), ids[:-1, :].ravel()])
    dst = np.concatenate([ids[:, 1:].ravel(), ids[1:, :].ravel()])
    return src, dst, rng.uniform(WEIGHT_LOW, WEIGHT_HIGH, len(src))


def reweight(src, dst, weight, seed: int):
    """The same edges with new uniform weights in [0.1, 1.0) drawn from
    ``seed``."""
    rng = np.random.default_rng(seed)
    return src, dst, rng.uniform(WEIGHT_LOW, WEIGHT_HIGH, len(weight))


def drop_self_loops(src, dst, weight):
    keep = src != dst
    return src[keep], dst[keep], weight[keep]


def canonical_edges(src, dst, weight):
    """The directed edge set an undirected ``Graph`` stores for this input:
    both directions of every edge, parallel edges collapsed to their
    minimum weight, rows sorted by (src, dst)."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    w = np.concatenate([weight, weight])
    order = np.lexsort((w, d, s))
    s, d, w = s[order], d[order], w[order]
    first = np.ones(len(s), bool)
    first[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return s[first], d[first], w[first]

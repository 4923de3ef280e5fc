"""Round-11b operator-internals pins.

The r11b optimizations restructure HOW three kernels parallelize —
query-chunked IVF cogroup, rerank spread, pooled wide SRP signatures —
without changing WHAT they compute. These tests pin the equivalences
the optimizations rely on, at parameter points that actually exercise
the new paths (the bench corpora run m=1 chunking at the test session's
parallelism, so the suite needs a forced m>1 case).
"""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_carprice_assignment_spark.llm import similarity as S


def _int_vectors(n: int, dim: int, seed: int = 7):
    rng = np.random.default_rng(seed)
    X = rng.integers(0, 9, size=(n, dim)).astype(float)
    # planted exact duplicates: equal-cosine ties exercise the stable
    # (cos DESC, id ASC) tie rule inside the chunked kernel
    X[n // 2] = X[0]
    X[n // 2 + 1] = X[1]
    return X


def test_ivf_knn_join_chunked_equals_brute_force(spark):
    """n_cells=2 at the test session's parallelism forces the r11b
    query-chunked cogroup (m > 1: probe side split per cell, corpus
    replicated per chunk). With nprobe = n_cells every cell is probed,
    so the join's top-k must equal numpy brute-force exact top-k —
    integer-valued vectors make every cosine an exact float64, so the
    comparison is equality, not tolerance."""
    n, dim, k = 40, 16, 3
    X = _int_vectors(n, dim)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vid long, vec array<double>",
    )
    model, assigned = S.ivf_index(df, "vec", n_cells=2, id_col="vid")
    par = spark.sparkContext.defaultParallelism
    assert par > 2, "test session parallelism must exceed n_cells"
    out = S.ivf_knn_join(model, assigned, "vec", "vid", k=k, nprobe=2)
    got = {
        (r["vid"], r["rank"]): (r["nn_id"], r["cosine"])
        for r in out.collect()
    }
    norms = np.linalg.norm(X, axis=1)
    cos = (X @ X.T) / np.outer(norms, norms)
    for i in range(n):
        order = sorted(
            (j for j in range(n) if j != i), key=lambda j: (-cos[i, j], j)
        )[:k]
        for rank, j in enumerate(order, start=1):
            nn, c = got[(i, rank)]
            assert nn == j, (i, rank, nn, j)
            assert c == pytest.approx(cos[i, j], abs=0.0)


def test_srp_knn_join_sigs_pool_identical(spark):
    """srp_knn_join with a memo key returns row-identical output to the
    unkeyed call (the memo only caches the projection matmul),
    including on a REPEATED keyed call (cache-hit path)."""
    n, dim = 60, 32
    X = _int_vectors(n, dim, seed=11)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vid long, vec array<double>",
    )
    kw = dict(k=1, band_bits=None, n_docs_stat=n, n_distinct_stat=n - 2)
    base = sorted(map(tuple, S.srp_knn_join(df, "vec", "vid", **kw).collect()))
    pooled1 = sorted(
        map(
            tuple,
            S.srp_knn_join(
                df, "vec", "vid", key=("test_srp_pool",), **kw
            ).collect(),
        )
    )
    pooled2 = sorted(
        map(
            tuple,
            S.srp_knn_join(
                df, "vec", "vid", key=("test_srp_pool",), **kw
            ).collect(),
        )
    )
    assert pooled1 == base
    assert pooled2 == base


def test_blocked_cosine_pairs_parallelism_floor_identical(spark):
    """The r11b parallelism floor changes the block count, never the
    pair set: block_rows large enough for one block must yield the same
    pairs as tiny blocks (the exact rerank decides membership)."""
    n, dim = 50, 16
    X = _int_vectors(n, dim, seed=3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vid long, vec array<double>",
    )
    big = sorted(
        map(
            tuple,
            S.blocked_cosine_pairs(df, "vec", "vid", 0.9, block_rows=4096)
            .collect(),
        )
    )
    small = sorted(
        map(
            tuple,
            S.blocked_cosine_pairs(df, "vec", "vid", 0.9, block_rows=8)
            .collect(),
        )
    )
    assert big == small and len(big) > 0

"""Similarity search over embedding columns (driver north star).

Baseline: brute-force cosine top-k as native expressions (JVM-side fold
over the array — no UDF, no collect of data-sized results). Scale path:
LSH-bucketed approximate search (BucketedRandomProjectionLSH) and an
IVF-style coarse-quantizer variant (k-means partitions → search nprobe
nearest partitions only).
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array columns, cast to double pre-multiply so the
    fold is double-precision from the first element (float*float would
    quantize differently than the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    Plan shape: narrow projection (cosine per row) → TakeOrderedAndProject
    (per-partition heaps, k·partitions rows to the driver merge). This is
    the exact baseline; at 100 TB prefer :func:`cosine_topk_lsh` or
    :func:`ivf_topk`. Deterministic tie-break on id."""
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        df.select(
            F.col(id_col),
            cosine(F.col(vec_col), q).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def blocked_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    block_rows: int = 4096,
) -> DataFrame:
    """EXACT all-pairs cosine join ≥ threshold via blocked BLAS gram
    matrices — the scalable primitive for exact similarity joins when
    the threshold sits too close to the corpus noise floor for LSH to
    prune at perfect recall (measured here: BRP-LSH at the recall-gate
    settings emits 12.4M of 12.5M possible pairs, i.e. zero pruning,
    because unit-random-projection spread is d/√dim ≈ 0.07 ≪ any usable
    bucket width).

    Plan shape: rows hash into √N-scaled blocks; each block pair (i≤j)
    is materialized once via a crossJoin with the block-index range
    (replication factor = n_blocks — the inherent cost of an exact
    all-pairs scan) and reduced by one Arrow-batched ``applyInPandas``
    kernel computing the block-pair gram matrix with BLAS. The kernel
    emits candidate pairs at (threshold − 1e-9); the final filter
    recomputes the EXACT sequential-fold cosine from the raw arrays —
    the same operand order the DuckDB oracles use — so inclusion
    decisions are engine-identical (BLAS reassociation noise ~1e-15 is
    buried under the 1e-9 margin).

    r11b (measured): the gram sweep is compute-dense but byte-small at
    low corpus sizes, so (a) the size-derived block count can leave the
    cluster mostly idle (⌈5000/4096⌉ = 2 blocks ⇒ 3 block pairs ⇒ 3
    tasks on 32 cores), and (b) AQE's byte-based coalescing packs
    several block pairs into one post-shuffle partition. The block
    count therefore gets a PARALLELISM FLOOR — the smallest nb whose
    nb(nb+1)/2 block pairs cover defaultParallelism, bounded so blocks
    never shrink below ~64 rows (BLAS efficiency) — and the kernel's
    exchange is an explicit repartition on the block-pair key
    (REPARTITION_BY_NUM, exempt from AQE coalescing). Replication
    factor = nb is unchanged in O() terms at scale, where the
    size-derived count dominates the floor and the plan is the old one.
    Results are unchanged by construction: the kernel only nominates
    candidates (threshold − 1e-9) and the exact sequential-fold rerank
    outside decides membership."""
    import math

    spark = df.sparkSession
    n = df.count()  # one count job; at scale pass a cardinality estimate
    nb = max(1, math.ceil(n / block_rows))
    par = spark.sparkContext.defaultParallelism
    nb_floor = math.ceil((math.sqrt(8.0 * par + 1.0) - 1.0) / 2.0)
    nb = max(nb, min(nb_floor, max(1, n // 64)))
    b = df.select(
        F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bv")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col("_bid")), F.lit(nb)).cast("int"))
    others = spark.range(nb).select(F.col("id").cast("int").alias("_other"))
    rep = b.crossJoin(F.broadcast(others)).select(
        F.least("_blk", "_other").alias("_lo"),
        F.greatest("_blk", "_other").alias("_hi"),
        "_blk",
        "_bid",
        "_bv",
    )
    margin = 1e-9

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        lo, hi = key
        a_rows = pdf[pdf["_blk"] == lo]
        ids_a = a_rows["_bid"].to_numpy()
        xa = np.stack(a_rows["_bv"].to_numpy()).astype("float64")
        norms = np.linalg.norm(xa, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        xa = xa / norms
        if lo == hi:
            sims = xa @ xa.T
            ii, jj = np.nonzero(np.triu(sims >= threshold - margin, k=1))
            left, right = ids_a[ii], ids_a[jj]
        else:
            b_rows = pdf[pdf["_blk"] == hi]
            ids_b = b_rows["_bid"].to_numpy()
            xb = np.stack(b_rows["_bv"].to_numpy()).astype("float64")
            nb_ = np.linalg.norm(xb, axis=1, keepdims=True)
            nb_[nb_ == 0.0] = 1.0
            xb = xb / nb_
            sims = xa @ xb.T
            ii, jj = np.nonzero(sims >= threshold - margin)
            left, right = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {"a": np.minimum(left, right), "b": np.maximum(left, right)}
        )

    n_pair_blocks = nb * (nb + 1) // 2
    cand = (
        rep.repartition(max(par, min(n_pair_blocks, 4 * par)), "_lo", "_hi")
        .groupBy("_lo", "_hi")
        .applyInPandas(kernel, "a long, b long")
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_topk_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    num_hash_tables: int = 3,
    bucket_length: float = 0.5,
) -> DataFrame:
    """Approximate top-k: L2-normalize + BucketedRandomProjectionLSH
    ``approxNearestNeighbors`` (probes matching hash buckets only)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    import numpy as np

    feats = df.select(F.col(id_col), array_to_vector(vec_col).alias("raw"))
    normed = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(feats)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec",
        outputCol="hashes",
        seed=42,
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
    )
    model = lsh.fit(normed)
    qv = np.asarray(query, dtype="float64")
    qv = qv / (np.linalg.norm(qv) or 1.0)
    hits = model.approxNearestNeighbors(normed, Vectors.dense(qv), k, distCol="euclid")
    return hits.select(
        id_col, (1.0 - F.pow("euclid", 2) / 2.0).alias("cosine")
    ).orderBy(F.desc("cosine"), F.asc(id_col))


def _srp_rademacher(n_bits: int, dim: int):
    """±1 hyperplane matrix derived from md5 — ENGINE-PORTABLE: DuckDB
    reproduces entry (i, j) as
    ``('0x'||substr(md5('srp:'||i||':'||j),1,15))::BIGINT & 1``.
    Rademacher (Achlioptas-style) projections are a standard sign-LSH
    choice; deriving them from a hash instead of an RNG is what makes
    the whole signature oracle-replayable."""
    import hashlib

    import numpy as np

    S = np.empty((n_bits, dim), dtype=np.float64)
    for i in range(n_bits):
        for j in range(dim):
            h = int(hashlib.md5(f"srp:{i}:{j}".encode()).hexdigest()[:15], 16)
            S[i, j] = 1.0 if h & 1 else -1.0
    return S


def srp_signatures(
    df: DataFrame, vec_col: str, id_col: str, n_bits: int = 60
) -> DataFrame:
    """Sign-random-projection (Charikar cosine-LSH) signatures over a
    COUNT-VALUED feature column, bit-replayable in DuckDB.

    bit i = (Σ_j feat_j · s_ij ≥ 0) with s_ij ∈ {+1, −1} md5-derived
    (:func:`_srp_rademacher`). On integer-valued features every product
    and partial sum is an exactly-representable integer in float64, so
    the BLAS matmul here and DuckDB's sequential list_sum produce the
    SAME sign no matter how either engine associates the additions —
    the property that makes an approximate index's candidate mechanism
    hash-checkable, not just recall-spot-checked.

    The signature is an ``array<long>`` of 60-bit words: word w carries
    the global bits [60w, 60w+60), so every word stays in positive
    BIGINT range and ``>>`` banding needs no unsigned shift on either
    engine (a 60-bit signature is one word, the oracle's single BIGINT).
    Signatures wider than one word let band_bits scale with log2(n), so
    expected random collisions stay ~O(n) per band; a fixed 2^10 bucket
    count saturates, and candidate pairs then grow O(n²/2^band_bits)
    (measured 75x time at 10x data on the clone corpus).

    Scale: one Arrow-batched pandas_udf projection (X @ Sᵀ per batch),
    no shuffle; the signature table is n rows of n_bits/60 longs."""
    import numpy as np

    n_words = (n_bits + 59) // 60

    @F.pandas_udf("array<long>")
    def sig(vs: pd.Series) -> pd.Series:
        X = np.asarray(vs.tolist(), dtype=np.float64)
        S = _srp_matrix_cached(n_bits, X.shape[1])
        bits = (X @ S.T) >= 0.0
        words = np.zeros((len(X), n_words), dtype=np.int64)
        for b in range(n_bits):
            words[:, b // 60] |= bits[:, b].astype(np.int64) << (b % 60)
        return pd.Series(list(words))

    return df.select(F.col(id_col), sig(F.col(vec_col)).alias("srp_sig"))


@functools.cache
def _srp_matrix_cached(n_bits: int, dim: int):
    return _srp_rademacher(n_bits, dim)


def srp_band_pairs(
    sigs: DataFrame,
    id_col: str,
    n_bits: int = 60,
    band_bits: int = 10,
    max_bucket: int | None = 2000,
    max_hamming: int | None = None,
    weight_col: str | None = None,
    include_self: bool = False,
) -> DataFrame:
    """SRP banding: split each 60-bit signature word into
    ``60 // band_bits`` chunks; vectors sharing any chunk are candidates
    — the cosine-LSH candidate join that ACTUALLY PRUNES on angular data
    (unlike euclidean BRP buckets on unit-norm vectors, where the
    projection spread collapses below any usable bucket width —
    ``blocked_cosine_pairs`` documents that failure). Random pairs
    collide per band w.p. ~2^-band_bits; near-angular pairs (θ→0)
    collide w.p. →1. Bands never span a word boundary or reach past
    bit n_bits; the hyperplanes are i.i.d., so which bits form a band is
    immaterial. Returns
    distinct (a < b, hamming).

    Buckets larger than ``max_bucket`` are dropped (same boilerplate
    guard as MinHash banding). ``max_bucket=None`` skips the cap AND its
    window count entirely: an exactness gate that must emit every pair
    pays no extra exchange for a cap that can never fire.

    ALL bands land in ONE banding exchange: the explode enumerates
    every band of every signature, the bucket cap is a window count
    over (band, key) riding that same exchange, and the self-join
    reuses the window's (band, key) partitioning — one exchange plus
    the dedup, no per-table jobs and no materialization barrier.

    Hamming folds bit_count(xor) across the word arrays and is computed
    (and the arrays DROPPED) before the dedup exchange, so the distinct
    shuffles 3 longs per candidate instead of two signature arrays — at
    50k docs × 56 bands the array-carrying distinct was the memory
    cliff. ``max_hamming`` additionally screens candidates before they
    reach the caller's exact rerank: hamming/n_bits estimates θ/π, so
    random pairs (θ≈π/2) sit tens of σ above any near-duplicate
    threshold.

    GROUPED input: when ``sigs`` rows stand for GROUPS of identical
    vectors, ``weight_col`` names the member count — the bucket cap
    then sums weights, so capping fires at exactly the same doc counts
    as ungrouped banding would — and ``include_self=True`` keeps the
    (g, g) self-pair (hamming 0), which exists iff the group has ≥1
    surviving bucket: the precise condition under which ungrouped
    banding would emit that group's within-group doc pairs."""
    from pyspark.sql import Window

    per_word = max(1, 60 // band_bits)
    mask = (1 << band_bits) - 1
    n_words = (n_bits + 59) // 60
    wt = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    banded = sigs.select(
        F.col(id_col).alias("doc"),
        F.col("srp_sig").alias("sh"),
        wt.alias("_wt"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w * per_word + c).alias("band"),
                        F.shiftright(F.col("srp_sig")[w], c * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for w in range(n_words)
                    for c in range(per_word)
                    if 60 * w + (c + 1) * band_bits <= n_bits
                ]
            )
        ).alias("bb"),
    ).select("doc", "sh", "_wt", "bb.band", "bb.key")
    if max_bucket is not None:
        cap = Window.partitionBy("band", "key")
        banded = banded.withColumn("_sz", F.sum("_wt").over(cap)).filter(
            F.col("_sz") <= max_bucket
        )
    a = banded.select("band", "key", F.col("doc").alias("a"), F.col("sh").alias("sh_a"))
    b = banded.select("band", "key", F.col("doc").alias("b"), F.col("sh").alias("sh_b"))
    # Keep the zip_with/aggregate fold: an unrolled static sum of
    # per-word bit_count(sh_a[i] ^ sh_b[i]) terms LOOKS codegen-friendly
    # but measured 6x SLOWER at 19 words (sf1.0 A/B, same window: fold
    # 17s warm vs unroll 113s, identical 1.21M pairs) — the repeated
    # GetArrayItem field extractions per term beat the fold's single
    # array traversal + intermediate allocation.
    ham = F.aggregate(
        F.zip_with(
            "sh_a", "sh_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    # Banding WITHOUT the arrays and rejoining signatures after the
    # distinct measured 2× slower: the distinct then dedups the
    # unfiltered candidate set, and the rejoin adds two more shuffles.
    # Known CPU tradeoff of fold-before-distinct: a true near-dup pair
    # collides in most of the 56–92 adaptive bands, so the hot pairs
    # pay the 19–31-word bit_count fold once PER COLLIDING BAND instead
    # of once per unique pair (~bands× redundant compute on exactly the
    # pairs that survive). The shuffle-size win dominates at current
    # shapes; if rerank-stage CPU ever shows in profiles, dedup (a, b)
    # per band-block (min_by over (band, key) groups) before the fold.
    pair_cond = (
        F.col("a") <= F.col("b") if include_self else F.col("a") < F.col("b")
    )
    out = (
        a.join(b, ["band", "key"])
        .filter(pair_cond)
        .withColumn("hamming", ham)
        .select("a", "b", "hamming")
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.distinct()


def srp_adaptive_band_bits(n: int, floor_bits: int = 10, cap_bits: int = 20) -> int:
    """Band width that keeps expected RANDOM band collisions ~O(n):
    pairs per band ≈ n²/2^bits, so bits ≈ log2(n) + 2 (clamped). With
    the fixed 10-bit gate setting the bucket count saturates at 1024
    and candidates grow quadratically — this is the knob that restores
    linear candidate growth at cluster scale.

    The +2 margin is MEASURED, not guessed (A/B on the 20%-salted-dup
    corpus, candidate stage warm): each extra bit halves random
    collisions for ~15% more bands, and the trade is profitable for
    exactly two bits —

      at 50k docs: +0 → 985k cands / 18.6s; +2 → 267k / 10.4s;
                   +3 → 131k / 19.3s; +4 → 113k / 21.7s

    (+3 on, the wider signatures and 82-struct banding explode cost
    more than the pruned candidates save). +2 also cut the 1x corpus
    17% and improved the candidate-stage 10x ratio 5.6× → 3.8×."""
    import math

    return max(floor_bits, min(cap_bits, math.ceil(math.log2(max(n, 2))) + 2))


def srp_adaptive_bands(
    band_bits: int, design_cos: float = 0.94, miss: float = 1e-4
) -> int:
    """Band COUNT that holds the recall contract as band_bits grows:
    a pair at angle θ collides per band with p1 = (1 − θ/π)^bits, which
    DECAYS exponentially in bits — so a fixed band count silently sheds
    recall exactly when the adaptive bits kick in (sf0.1 sweep:
    6 bands at 13 bits missed 4 true pairs in the 0.94–0.98 cosine
    band). bands = ceil(ln(miss) / ln(1 − p1)) pins the per-pair miss
    probability at ``miss`` for pairs at ``design_cos`` or tighter —
    the standard multi-table LSH sizing (total tables grow ~n^ρ;
    ρ ≈ 0.15 at 0.94, so candidate volume stays ~n^1.15, near-linear).
    """
    import math

    theta = math.acos(design_cos)
    p1 = (1.0 - theta / math.pi) ** band_bits
    return max(6, math.ceil(math.log(miss) / math.log(1.0 - p1)))


def srp_knn_join(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 1,
    band_bits: int | None = 10,
    max_bucket: int = 2000,
    design_cos: float = 0.94,
    miss: float = 1e-4,
    screen_cos: float = 0.85,
    n_docs_stat: int | None = None,
    n_distinct_stat: int | None = None,
    key: tuple | None = None,
) -> DataFrame:
    """Approximate kNN-join via SRP banding: candidates from the band
    join, exact double-precision cosine rerank, per-vector top-k window.
    The production cosine-ANN shape when the corpus is angular (text
    embeddings): candidate count ~ n·(n/2^band_bits)·n_bands instead of
    n², tunable by (band_bits, n_bands); vectors whose true neighbor
    shares no band are missed (approximate by contract — recall rises
    with more bands / fewer bits per band).

    An explicit ``band_bits`` bands exactly as told: 6 bands, no
    hamming screen, no duplication probe. ``band_bits=None`` selects
    :func:`srp_adaptive_band_bits` from the corpus size AND
    :func:`srp_adaptive_bands` from the chosen width — bits keep random
    collisions linear, bands keep the per-pair miss probability pinned
    (≤``miss`` at cosine ≥``design_cos``) as bits grow. The
    (design_cos, miss) pair IS the recall/cost frontier: the default
    (0.94, 1e-4) is the tight contract the exactness gates pin;
    (0.90, 1e-2) is the documented cheap production profile (~half the
    bands → ~half the candidate exchange). ``screen_cos`` is the
    minimum cosine downstream callers gate on — the adaptive hamming
    pre-screen is sized so a true pair AT that cosine survives with ~6σ
    margin (deriving it from design_cos instead silently sheds
    0.85-pairs as signatures widen: one-sided miss ~4.5e-3 at 1140
    bits, ~3.6e-2 at 1860 bits).

    ``key`` (the caller's memo key for ``df``) memoizes the signature
    table per (key, width) on the ungrouped route. The dedup route
    (n_uniq <= 0.7*n_docs) signs group representatives keyed by a
    derived _gid, not corpus-stable ids, so it never consults the memo.

    ``n_docs_stat`` / ``n_distinct_stat`` are CATALOG STATISTICS: the
    adaptive path needs the corpus size (to pick band bits) and the
    distinct-vector count (to pick the dedup-before-ANN route), and
    without them it pays one count job + one distinct-count job per
    call. At ingest those are one cheap aggregate recorded next to the
    data (``sources.layout.write_corpus_stats``) — a caller that passes
    them gets a ZERO-extra-job plan. The stats must describe the EXACT
    DataFrame passed: stats of an ingested superset that the caller
    then filtered or re-derived steer the dedup route and the
    group-size broadcast wrongly. An internally inconsistent pair
    (distinct > total, or nonpositive distinct) is discarded in favour
    of the probe. Explicit-band callers without stats never probe
    duplication at all.

    Returns (id, nn_id, cosine, rank) for vectors with ≥1 candidate."""
    from pyspark.sql import Window

    adaptive = band_bits is None
    n_docs = None
    if adaptive:
        n_docs = n_docs_stat if n_docs_stat is not None else df.count()
        band_bits = srp_adaptive_band_bits(n_docs)
    n_bands = (
        srp_adaptive_bands(band_bits, design_cos=design_cos, miss=miss)
        if adaptive
        else 6
    )
    # bands never span words, so round the per-word layout up to whole
    # 60-bit words covering the band count
    per_word = max(1, 60 // band_bits)
    n_words = max(1, -(-n_bands // per_word))
    wide_bits = n_words * 60
    # Adaptive path only: hamming screen ahead of the exact rerank.
    # hamming/wide_bits estimates θ/π, so size the threshold from the
    # MINIMUM cosine callers gate on (screen_cos). A true screen_cos pair
    # sits 6σ inside thr (miss ≲1e-9 at any adaptive width), while the
    # random bulk at θ≈π/2 (E[ham]=wide_bits/2, >15σ above thr even at
    # 0.85) never reaches the vector join — unscreened, the sf1.0 probe
    # joined dim-sized vectors onto 43n candidate pairs (433 s and an
    # executor OOM). Explicit-band callers keep the unfiltered
    # any-similarity contract.
    thr = None
    if adaptive:
        import math

        p_screen = math.acos(screen_cos) / math.pi
        thr = math.ceil(
            wide_bits * p_screen
            + 6.0 * math.sqrt(wide_bits * p_screen * (1.0 - p_screen))
        )
    # DEDUP-BEFORE-ANN: when the corpus carries meaningful exact
    # duplication, band one representative per DISTINCT vector and
    # expand group pairs back to doc pairs afterward — the standard
    # production composition (identical embeddings are the norm in
    # crawled corpora: verbatim mirrors, boilerplate). Exactness is
    # preserved end to end: the bucket cap sums member counts (fires at
    # the same doc counts as ungrouped banding), the (g, g) self-pair
    # marks groups with a surviving bucket (the exact condition for
    # within-group pairs), signatures / hamming / cosine are functions
    # of the vector so group-grain values ARE the doc-grain values.
    # Same-window A/B at 10× clone data: grouped 10.6s vs ungrouped
    # 48-94s; at a 99.8%-unique corpus the grouping's extra vector-grain
    # window + expansion joins cost ~+5s of pure overhead — so the route
    # is chosen from ONE distinct-count (uniq ≤ 0.7·n groups), read from
    # the catalog stat when the caller has one and probed only on the
    # adaptive path otherwise.
    if (
        n_distinct_stat is not None
        and n_docs_stat is not None
        and (n_distinct_stat > n_docs_stat or n_distinct_stat <= 0)
    ):
        n_distinct_stat = None
    if n_distinct_stat is not None:
        n_uniq = n_distinct_stat
        if n_docs is None:
            n_docs = n_docs_stat if n_docs_stat is not None else df.count()
    elif adaptive:
        n_uniq = df.select(vec_col).distinct().count()
    else:
        n_uniq = None
    if n_uniq is None or n_uniq > 0.7 * n_docs:
        # The signature table is corpus-keyed index state (n rows x
        # n_words longs); callers whose input is an immutable corpus
        # pass its memo key and repeated calls skip the projection
        # matmul. Keyed by width so the tight and cheap contracts
        # (different band counts => different word counts) each cache
        # their own table.
        def sign() -> DataFrame:
            return srp_signatures(df, vec_col, id_col, wide_bits)

        if key is None:
            sigs = sign()
        else:
            from ..plans.materialize import memo

            sigs = memo(
                df.sparkSession,
                (*key, "srp_signatures", vec_col, id_col, wide_bits),
                sign,
            )
        pairs = srp_band_pairs(
            sigs, id_col, wide_bits, band_bits, max_bucket, max_hamming=thr
        )
        va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
        vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
        scored = (
            _rerank_spread(pairs)
            .join(va, "a")
            .join(vb, "b")
            .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
            .select("a", "b", "_cos")
        )
        return _topk_from_scored(scored, id_col, k)
    wv = Window.partitionBy(vec_col)
    m = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "_gid", F.min(id_col).over(wv)
    )
    members = m.select(F.col("_gid"), F.col(id_col).alias("_m"))
    wt = members.groupBy("_gid").agg(F.count(F.lit(1)).alias("_wt"))
    uniq = m.filter(F.col(id_col) == F.col("_gid")).select(
        F.col("_gid"), F.col(vec_col)
    )
    # the group-size table is at unique-vector grain (up to 0.7·n rows)
    # — force the broadcast only while it provably fits (two longs × 2M
    # rows ≈ 32 MB); above that let AQE pick the strategy rather than
    # blow the driver on a dim-sized build side
    wt_build = F.broadcast(wt) if n_uniq <= 2_000_000 else wt
    sigs_g = srp_signatures(uniq, vec_col, "_gid", wide_bits).join(
        wt_build, "_gid"
    )
    gpairs = srp_band_pairs(
        sigs_g,
        "_gid",
        wide_bits,
        band_bits,
        max_bucket,
        max_hamming=thr,
        weight_col="_wt",
        include_self=True,
    )
    vga = uniq.select(F.col("_gid").alias("a"), F.col(vec_col).alias("_va"))
    vgb = uniq.select(F.col("_gid").alias("b"), F.col(vec_col).alias("_vb"))
    scored_g = (
        _rerank_spread(gpairs)
        .join(vga, "a")
        .join(vgb, "b")
        .withColumn("_cos", cosine(F.col("_va"), F.col("_vb")))
        .select("a", "b", "_cos")
    )
    ma = members.select(F.col("_gid").alias("a"), F.col("_m").alias("_da"))
    mb = members.select(F.col("_gid").alias("b"), F.col("_m").alias("_db"))
    scored = (
        scored_g.join(ma, "a")
        .join(mb, "b")
        # cross-group pairs expand fully; within-group (a == b) pairs
        # keep one orientation (the explode below symmetrizes)
        .filter((F.col("a") != F.col("b")) | (F.col("_da") < F.col("_db")))
        .select(F.col("_da").alias("a"), F.col("_db").alias("b"), F.col("_cos"))
    )
    return _topk_from_scored(scored, id_col, k)


def _rerank_spread(pairs: DataFrame) -> DataFrame:
    """Spread a candidate-pair frame across the session's shuffle width
    BEFORE the exact-cosine rerank attaches vectors to it.

    The rerank is compute-dense (an interpreted higher-order fold over
    dim-sized arrays per pair — kept interpreted deliberately: the fold
    matches the oracle's sequential operand order on any input) while
    the pair frame is byte-tiny (two longs/row), so AQE's byte-based
    coalescing collapses it to one or two post-shuffle partitions and
    the whole rerank serializes onto one core (r11b event log: a
    single-task 60 s stage inside a 78 s warm run of the ingested
    gate). Hash-repartitioning on the pair key with an EXPLICIT count
    (REPARTITION_BY_NUM — exempt from AQE coalescing) moves two longs
    per row once and restores the full width; the vector joins stay
    broadcast joins on top of it, so the dim-sized arrays are never
    shuffled. Partition count = the session's shuffle width — the same
    scale-adaptive knob every other exchange uses. On deployments where
    ``spark.sql.shuffle.partitions`` is managed externally and
    non-numeric (e.g. ``'auto'`` under Databricks AQE) the conf value
    cannot size the repartition, so fall back to
    ``defaultParallelism`` — the same cluster-width proxy the other
    explicit repartitions use (ADVICE r11)."""
    spark = pairs.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    return pairs.repartition(n, "a", "b")


def _topk_from_scored(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """Top-k per vector from scored unordered pairs (a, b, _cos).

    Symmetrizes by EXPLODING each scored pair into both directions
    instead of unioning the scored subtree with a column-swapped copy
    of itself: the exact cosine fold runs once per unordered pair, and
    the plan holds the candidate subtree once (the union shape relied
    on ReusedExchange to dedup the work — an engine heuristic, not a
    guarantee, and a second full subtree for AQE to stage)."""
    from pyspark.sql import Window

    sym = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("doc"),
                    F.col("b").alias("nn"),
                    F.col("_cos"),
                ),
                F.struct(
                    F.col("b").alias("doc"),
                    F.col("a").alias("nn"),
                    F.col("_cos"),
                ),
            )
        ).alias("p")
    ).select("p.doc", "p.nn", "p._cos")
    w = Window.partitionBy("doc").orderBy(F.desc("_cos"), F.asc("nn"))
    return (
        sym.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("doc").alias(id_col),
            F.col("nn").alias("nn_id"),
            F.col("_cos").alias("cosine"),
            F.col("_rn").alias("rank"),
        )
    )


class _CoarseQuantizer:
    """Driver-trained coarse quantizer (numpy centroids). Mirrors the
    MLlib KMeansModel surface the probe path needs."""

    def __init__(self, centroids) -> None:
        self._centroids = centroids  # np.ndarray (n_cells × dim)

    def clusterCenters(self):
        return list(self._centroids)


def _cell_ranking_udf(centroids):
    """Arrow pandas_udf: per vector, ALL cell ids ordered by ascending
    centroid distance (one BLAS matmul per batch — the vectorized dual
    of the interpreted per-row zip_with distance fold)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("array<int>")
    def rank_cells(vs: pd.Series) -> pd.Series:
        X = np.asarray(vs.tolist(), dtype=np.float64)
        d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
        order = np.argsort(d2, axis=1, kind="stable").astype(np.int32)
        return pd.Series(list(order))

    return rank_cells


def ivf_index(
    df: DataFrame,
    vec_col: str,
    n_cells: int | None = 16,
    seed: int = 42,
    max_iter: int = 10,
    id_col: str | None = None,
    train_cap: int = 100_000,
    n_init: int = 4,
) -> tuple:
    """IVF coarse quantizer, FAISS-style: train k-means on a bounded
    DRIVER SAMPLE (deterministic hash-sample on ``id_col`` when the
    corpus exceeds ``train_cap``), broadcast the n_cells×dim centroids,
    and assign every vector its full centroid-distance cell ranking in
    ONE Arrow-vectorized pass. Returns (quantizer, assigned_df) where
    assigned_df carries ``_cells`` (ranked cell ids) and ``_cell``
    (nearest). At scale the assignment is written out partitioned by
    ``_cell`` so a probe reads only nprobe/n_cells of the data — the
    quantizer never needs a distributed iterative fit (a coarse
    quantizer doesn't need convergence, only locality; training it on a
    ≤train_cap sample is the standard IVF build), so the index build is
    sample-collect + numpy Lloyd + one narrow projection instead of
    max_iter distributed k-means jobs.

    ``n_cells=None`` selects the FAISS-guideline adaptive cell count
    ``≈4·sqrt(n)`` (clamped to [8, 4096]): with a FIXED cell count the
    per-cell candidate matmul in :func:`ivf_knn_join` is
    O(n/n_cells · n·nprobe/n_cells) = O(n²) as the corpus grows (the
    scale probe measured 5x time at 3x data with n_cells=8); √n cells
    keep cell size AND probe fan-out at O(√n), restoring ~O(n^1.5 /
    parallelism) total work — the standard IVF-Flat scaling. Fixed
    n_cells remains available for pinned-recall gates at bench SF."""
    import math

    import numpy as np

    from ..plans.materialize import pinned

    # One materialization barrier: the input is read four times downstream
    # (sample count, sample collect, probe side, corpus side) — without
    # this an expensive upstream feature pipeline re-executes per read.
    # Pooled persist, not localCheckpoint: repeated index builds on a
    # long-lived session must release the previous build's blocks
    # (round-2 bench showed warm ANN runs slower than cold from exactly
    # this accumulation). An input the caller already persisted (e.g. a
    # memoized feature table) is used as is: ``pinned`` skips it.
    df = pinned(df, "ivf_index")
    if n_cells is None:
        n_cells = int(min(4096, max(8, 4 * math.sqrt(df.count()))))
    if id_col is not None:
        sample = df.select(vec_col)
        n = df.count()
        if n > train_cap:
            frac_pm = max(1, int(10_000 * train_cap / n))
            sample = df.filter(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(10_000)) < frac_pm
            ).select(vec_col)
    else:
        # no id to hash-sample on: bound the driver collect explicitly —
        # an unbounded toPandas of the full corpus OOMs the driver
        sample = df.select(vec_col).limit(train_cap)
    X = np.asarray(sample.toPandas()[vec_col].tolist(), dtype=np.float64)
    # The adaptive cell count derives from the FULL corpus size but the
    # centroids seed from the ≤train_cap sample — clamp so an
    # undershooting sample degrades to fewer cells instead of raising in
    # rng.choice(replace=False).
    n_cells = max(1, min(n_cells, len(X)))

    # Seeding/restart policy scales with the cell count: kmeans++ with
    # n_init restarts for SMALL quantizers (recall variance from one
    # unlucky seeding is real when cells are few), but kmeans++ is
    # O(n_cells·|X|·dim) SEQUENTIAL steps and restarts multiply it — at
    # the adaptive ~4√n cell counts the build would dominate the whole
    # pipeline (measured 86s of a 90s index+join at 50k×512d, vs the
    # join's ~5s). Large quantizers therefore seed from a random
    # distinct sample with a single restart — FAISS's own coarse-
    # quantizer training discipline (random init, few iterations;
    # locality, not convergence, is the requirement).
    plus_plus = n_cells <= 64
    best_inertia, centroids = None, None
    for restart in range(max(1, n_init) if plus_plus else 1):
        rng = np.random.default_rng(seed + restart)
        if plus_plus:
            C = np.empty((n_cells, X.shape[1]))
            C[0] = X[rng.integers(len(X))]
            d2 = ((X - C[0]) ** 2).sum(axis=1)
            for j in range(1, n_cells):
                p = d2 / d2.sum() if d2.sum() > 0 else None
                C[j] = X[rng.choice(len(X), p=p)]
                d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
        else:
            C = X[rng.choice(len(X), size=n_cells, replace=False)].copy()
        for _ in range(max_iter):
            dist = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[
                None, :
            ]
            lbl = dist.argmin(axis=1)
            new = np.array(
                [
                    X[lbl == j].mean(axis=0) if (lbl == j).any() else C[j]
                    for j in range(n_cells)
                ]
            )
            if np.allclose(new, C):
                break
            C = new
        dist = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
        inertia = float(dist.min(axis=1).sum())
        if best_inertia is None or inertia < best_inertia:
            best_inertia, centroids = inertia, C

    rank_cells = _cell_ranking_udf(centroids)
    assigned = df.withColumn("_cells", rank_cells(F.col(vec_col))).withColumn(
        "_cell", F.col("_cells")[0]
    )
    return _CoarseQuantizer(centroids), assigned


def ivf_write_partitioned(assigned: DataFrame, path: str) -> None:
    """Persist the IVF assignment partitioned by home cell — the layout
    step that makes probing CHEAP at rest: a query touching ``nprobe``
    cells reads only nprobe/n_cells of the corpus via partition pruning
    (``PartitionFilters`` on the scan — gated in
    tests/test_layout.py::test_ivf_partitioned_probe_prunes), instead
    of full-scanning and post-filtering. The ``_cells`` ranking array
    is dropped at write time (it is probe-time state, recomputable from
    the broadcast centroids; persisting n_cells ints per row would
    multiply the at-rest footprint for no read-side benefit)."""
    assigned.drop("_cells").write.mode("overwrite").partitionBy(
        "_cell"
    ).parquet(path)


def ivf_knn_join(
    model,
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 1,
    nprobe: int = 4,
) -> DataFrame:
    """Batch IVF kNN-join: for EVERY vector, its top-k neighbors among
    the ``nprobe`` cells nearest to it — the shape a 100 TB ANN lookup
    actually runs as (no per-query driver round trip).

    Plan: the quantizer's ranked ``_cells`` column (computed once in the
    index build's Arrow pass) already holds each vector's probe list —
    the probe side is explode(slice(_cells, 1, nprobe)), no crossJoin
    and no interpreted distance fold; candidates come from one shuffle
    join on the cell id (pruning 1 − nprobe/n_cells of the corpus);
    exact cosine (BLAS per cell) + per-vector top-k window finishes it.
    No collect of data-sized results.

    r11b (measured, guide §2.5/§2.6): with a small pinned cell count
    the scoring cogroup has at most n_cells distinct keys, and AQE
    additionally coalesces the byte-small exchange — the event log
    showed the whole BLAS sweep running in TWO tasks on 32 cores (24 s
    of a 25 s warm run). Bytes are the wrong size proxy for a
    compute-dense kernel. Fix: when the cell count undershoots the
    available parallelism, split each cell's PROBE side into ``m``
    deterministic query chunks (xxhash64 of the query id — stable under
    retries, guide §2.5) and replicate the cell's corpus rows per chunk
    — per-query results are unchanged because every chunk still scores
    against the FULL cell (and on the integer-valued feature corpora
    every dot product is an exactly-representable float64, so the
    cosines are bit-identical under any batching). Both sides are
    repartitioned by the (cell, chunk) key with an explicit partition
    count (REPARTITION_BY_NUM is exempt from AQE coalescing), so the
    kernel actually lands on that many tasks. At scale n_cells ≈ 4√n ≫
    cores ⇒ m = 1 and the plan is exactly the pre-r11b one — no corpus
    replication is ever paid where cells already saturate the cluster."""
    from pyspark.sql import Window

    sc = assigned.sparkSession.sparkContext
    n_cells = max(1, len(model.clusterCenters()))
    m = max(1, min(64, -(-sc.defaultParallelism // n_cells)))
    probes = assigned.select(
        F.col(id_col).alias("_qid"),
        F.col(vec_col).alias("_qvec"),
        F.explode(F.slice(F.col("_cells"), 1, nprobe)).alias("_cell"),
    )
    corpus = assigned.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec"), "_cell"
    )
    group_keys = ["_cell"]
    if m > 1:
        n_parts = max(sc.defaultParallelism, n_cells)
        probes = probes.withColumn(
            "_chunk", F.pmod(F.xxhash64(F.col("_qid")), F.lit(m)).cast("int")
        ).repartition(n_parts, "_cell", "_chunk")
        corpus = corpus.withColumn(
            "_chunk", F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
        ).repartition(n_parts, "_cell", "_chunk")
        group_keys = ["_cell", "_chunk"]

    # Per-cell scoring kernel: Arrow-batched cogroup → one float64 BLAS
    # matmul (queries_in_cell × cell_vectors^T) + heap top-k, emitting
    # only k rows per (query, cell). The pure-expression alternative
    # (aggregate/zip_with dot per candidate pair) runs INTERPRETED in
    # Spark (higher-order functions don't codegen) at ~µs/pair — fatal at
    # |corpus|·nprobe/n_cells pairs. This is the documented
    # vectorized-Python exception: Arrow in, BLAS, tiny columnar out.
    def score_cell(qpdf, cpdf):
        import numpy as np
        import pandas as pd

        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({"_qid": [], "_cid": [], "_cos": []})
        # candidate side sorted by id so the stable argsort below breaks
        # equal-cosine ties (duplicate docs!) toward the SMALLEST id —
        # the same (cos DESC, id ASC) order as the global window and the
        # oracle; argpartition's arbitrary tie choice can drop the
        # id-ascending winner inside the cell before the window sees it
        cpdf = cpdf.sort_values("_cid", kind="mergesort")
        Q = np.asarray(qpdf["_qvec"].tolist(), dtype=np.float64)
        C = np.asarray(cpdf["_cvec"].tolist(), dtype=np.float64)
        qids = qpdf["_qid"].to_numpy()
        cids = cpdf["_cid"].to_numpy()
        cos = (Q @ C.T) / np.outer(
            np.sqrt((Q * Q).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        )
        cos[qids[:, None] == cids[None, :]] = -np.inf  # mask self-match
        kk = min(k, cos.shape[1])
        top = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        rows_q = np.repeat(qids, kk)
        rows_c = cids[top.ravel()]
        rows_v = np.take_along_axis(cos, top, axis=1).ravel()
        keep = np.isfinite(rows_v)
        return pd.DataFrame(
            {"_qid": rows_q[keep], "_cid": rows_c[keep], "_cos": rows_v[keep]}
        )

    cell_topk = (
        probes.groupBy(*group_keys)
        .cogroup(corpus.groupBy(*group_keys))
        .applyInPandas(score_cell, schema="_qid long, _cid long, _cos double")
    )
    # global top-k per query over its nprobe per-cell winners (tiny set)
    w_top = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        cell_topk.withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_qid").alias(id_col),
            F.col("_cid").alias("nn_id"),
            F.col("_cos").alias("cosine"),
            F.col("_rn").alias("rank"),
        )
    )


def ivf_topk(
    model,
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF probe: rank cells by centroid distance to the query, scan only
    the ``nprobe`` nearest cells with the exact cosine — the classic
    recall/latency trade (IVF-Flat)."""
    import numpy as np

    qv = np.asarray(query, dtype="float64")
    centers = model.clusterCenters()
    order = np.argsort([float(np.linalg.norm(c - qv)) for c in centers])
    probe_cells = [int(c) for c in order[:nprobe]]
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        assigned.filter(F.col("_cell").isin(probe_cells))  # partition pruning
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )

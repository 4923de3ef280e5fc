"""Deduplication operators (driver north star): exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (100 TB posture):
- exact dedup = hash-partition on digest, window keep-first — one shuffle;
- MinHash/LSH banding turns the O(n²) pair space into per-band bucket
  joins; band keys are the shuffle keys, hot buckets are bounded by
  ``max_bucket`` (frequent-shingle/boilerplate guard, logged not silent);
- candidate → verify: every approximate stage re-checks the exact
  similarity before declaring a duplicate;
- duplicate groups are resolved to a canonical representative by iterated
  min-id propagation (connected components via a bounded driver loop of
  joins — each iteration is one distributed join, no driver data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.materialize import local_frame, memo, pinned
from .text import content_hash, normalize_text, shingles, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on the normalized-content hash: keeps the smallest id
    per content group. Returns the input plus ``is_duplicate`` /
    ``canonical_id`` columns (callers filter to materialize the dedup)."""
    from pyspark.sql import Window

    w = Window.partitionBy("_digest").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_digest", content_hash(text_col))
        .withColumn("canonical_id", F.first(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .drop("_digest")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: num_hashes permutations emulated as
    ``min(xxhash64(seed_i, shingle))`` — pure expressions, one projection.
    (Classical MinHash: Broder 1997's min-wise independent permutations,
    approximated with seeded 64-bit hashes.)"""
    # Plan shape (load-bearing, in order):
    #   repartition(raw rows)       — spread the CPU work (single-file
    #                                 corpora arrive as ONE split);
    #   explode shingle→xxhash64    — the expensive variable-length string
    #                                 hashing, ONCE per shingle, codegen;
    #   groupBy(id) × num_hashes    — each permutation is a
    #     min(xxhash64(i, h))         hash-aggregate column: whole-stage
    #                                 codegen with map-side combine, so
    #                                 the shuffle carries one partial row
    #                                 of num_hashes longs per (task, id).
    # (The previous form computed the permutations as num_hashes
    # F.transform passes over a per-doc hash array — higher-order
    # functions run INTERPRETED in Spark, ~µs per lambda call, which
    # dominated the whole dedup pipeline.)
    # ``shingled``: an optional pre-computed [id_col, _sh:array<string>]
    # table (typically pinned once per corpus) — tokenization is the
    # shared expensive prefix of every MinHash variant, so callers
    # running several pipelines over one corpus pass it in instead of
    # re-shingling per pipeline.
    spark = df.sparkSession
    # At least 8 partitions: with defaultParallelism alone (sf0.1, 4
    # cores, warm median of 3) near_dup_keep_best went 1.93 -> 2.49 s and
    # ngram_jaccard_near_dups 1.59 -> 2.19 s.
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    if shingled is not None:
        base = shingled.select(F.col(id_col), F.col("_sh"))
    else:
        base = df.repartition(n_parts, id_col).select(
            F.col(id_col), shingles(text_col, shingle_n).alias("_sh")
        )
    exploded = base.select(F.col(id_col), F.explode("_sh").alias("_s")).select(
        F.col(id_col), F.xxhash64("_s").alias("_h")
    )
    # the num_hashes-wide repetitive tree is built as JVM-parsed SQL
    # strings (F.expr / selectExpr): the composed-Column form cost ~2s
    # of py4j round-trips per plan BUILD at 128 hashes (round-7 phase
    # timing) — identical plan and values, two orders fewer JVM calls
    mins = [
        F.expr(f"min(xxhash64({i}, _h)) AS _m{i}") for i in range(num_hashes)
    ]
    sig_array = "array(" + ", ".join(f"_m{i}" for i in range(num_hashes)) + ")"
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .selectExpr(f"`{id_col}`", f"{sig_array} AS signature")
    )


def minhash_band_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    max_bucket: int = 500,
    num_hashes: int | None = None,
    key: tuple | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of equal width,
    bucket-join on (band, hash-of-row). Returns candidate pairs (a < b).
    Buckets larger than ``max_bucket`` (boilerplate explosions) are
    dropped — a deliberate, logged cap, not silent truncation.

    ``num_hashes`` is the signature length (callers built the signatures,
    so they know it — pass it through). Falling back to a ``.first()``
    probe costs a full Spark job at PLAN-BUILD time (the signature
    pipeline runs once just to read an array length), so the probe is
    only a back-compat path for callers that genuinely don't know.

    ``key``: callers whose ``signatures`` are themselves a
    memoized per-corpus table pass its memo key, and the BANDED table
    (docs × bands rows of three scalars — the per-call xxhash64 + 128
    long→string casts per doc were the dominant residual cost of the
    char-gram query's warm runs) is memoized under it, extended by the
    banding config, instead of re-pinned per call. ``None`` keeps the
    per-call pin (input not corpus-stable)."""
    if num_hashes is None:
        first = signatures.select(F.size("signature").alias("n")).first()
        if first is None:  # empty corpus
            return local_frame(signatures.sparkSession, [], "a long, b long")
        num_hashes = first["n"]
    width = num_hashes // bands
    # band structs as one JVM-parsed expression (see minhash_signatures:
    # the composed-Column form pays py4j per node); the SQL lambda
    # `x -> CAST(x AS STRING)` is the same cast F.transform applied
    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', "
        f"transform(slice(signature, {b * width + 1}, {width}), "
        f"x -> CAST(x AS STRING)))))"
        for b in range(bands)
    )

    def band() -> DataFrame:
        return signatures.selectExpr(
            f"`{id_col}` AS doc", f"explode(array({structs})) AS bb"
        ).select("doc", "bb.band", "bb.bucket")

    # materialize once: the self-join below would otherwise recompute
    # the full signature expression tree on both branches (2× the
    # dominant cost); the banded table is (docs × bands) rows of three
    # scalars. pinned (pooled persist), not localCheckpoint: repeated
    # builds on a long-lived session must free the previous
    # generation's blocks.
    if key is None:
        banded = pinned(band(), "minhash_banded")
    else:
        banded = memo(
            signatures.sparkSession,
            (*key, "minhash_banded", id_col, bands, num_hashes),
            band,
        )
    # bucket-size cap via a window count over the SAME (band, bucket)
    # partitioning the self-join below shuffles on anyway — one exchange
    # and one plan fewer than the previous groupBy-sizes + join-back form
    from pyspark.sql import Window

    sz = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    banded = banded.withColumn("_sz", sz).filter(F.col("_sz") <= max_bucket).drop("_sz")
    a = banded.select("band", "bucket", F.col("doc").alias("a"))
    b = banded.select("band", "bucket", F.col("doc").alias("b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, threshold: float,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard on candidate pairs (the verify half of
    candidate→verify). Joins shingle sets back in; |A∩B|/|A∪B| native."""
    # the pair list is referenced three times in this plan (candidate-id
    # union + both join sides) — materialize it once, or the banding
    # self-join upstream executes 3x per verify
    pairs = pinned(pairs, "jaccard_pairs")
    # shingle only candidate documents (candidates ≪ corpus at scale):
    # semi-join the pair ids in before computing shingle sets.
    cand_ids = (
        pairs.select(F.col("a").alias("_id"))
        .unionByName(pairs.select(F.col("b").alias("_id")))
        .distinct()
    )
    # At least 8 partitions, as in ``minhash_signatures`` (the same
    # near-dup queries run both).
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    if shingled is not None:
        # pre-shingled corpus (already pinned by the caller): just prune
        # to candidate ids — no re-tokenization, no second persist
        sh = shingled.select(
            F.col(id_col).alias("_id"), F.col("_sh")
        ).join(F.broadcast(cand_ids), "_id", "left_semi")
    else:
        sh = (
            df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
            .join(F.broadcast(cand_ids), "_id", "left_semi")
            .repartition(n_parts, "_id")  # parallelize the shingle compute
            .select("_id", shingles("_t", shingle_n).alias("_sh"))
        )
        sh = pinned(sh, "jaccard_shingles")  # reused by both sides of the pair join
    a = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → banded candidate
    pairs → exact-Jaccard verify → connected components → canonical id.

    ``signatures``: an optional precomputed [id_col, signature:array<long>]
    table of length ``num_hashes`` (e.g. a prefix slice of a pooled wider
    signature table — the seed scheme is 0..k, so min over seeds i<k is
    the identical value the k-hash pipeline computes)."""
    sigs = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingled)
    )
    pairs = minhash_band_pairs(sigs, id_col, bands, num_hashes=num_hashes)
    verified = jaccard_verify(
        df, pairs, text_col, id_col, threshold, shingle_n, shingled
    )
    # materialize the verified edge list once: connected_components
    # evaluates its input twice (size probe + collect/propagate), and
    # the verify plan itself references the banding subtree three times
    # (candidate-id semi-join + both pair sides) — unpinned, the band
    # self-join would run ~6x per dedup call
    verified = pinned(verified.select("a", "b"), "minhash_dedup_verified")
    comp = connected_components(verified)
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .withColumn("canonical_id", F.coalesce("component", F.col(id_col)))
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .drop("node", "component")
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_shared: int = 2,
    tokens_col: str | None = None,
) -> DataFrame:
    """Benchmark-decontamination check: training docs sharing ≥
    ``min_shared`` distinct word n-grams with any eval doc (the standard
    n-gram-overlap contamination test run before training on a corpus).

    Scale shape: the EVAL side is always small (benchmarks are a few
    thousand docs), so its exploded (gram → eval_id) table broadcasts
    and the training corpus is matched with a broadcast hash join on the
    gram — no shuffle of training-side grams; the per-(train, eval)
    distinct-gram count is one hash aggregation. At extreme eval sizes
    swap the broadcast for a shuffle join on ``xxhash64(gram)``.

    ``tokens_col`` names an already-tokenized array column on BOTH
    inputs (a pooled normalize+tokenize prefix); grams then skip the
    regex stack."""
    from .text import shingles_from_tokens

    def grams(df: DataFrame):
        if tokens_col is not None:
            return F.explode(shingles_from_tokens(F.col(tokens_col), n))
        return F.explode(shingles(text_col, n))

    # spread the shingle+explode CPU work first: a single-file corpus
    # arrives as ONE input split and would otherwise tokenize serially.
    # A pooled tokenized input is already spread — don't re-shuffle it.
    # At least 8 partitions, as in ``minhash_signatures`` (same work).
    if tokens_col is None:
        n_parts = max(train.sparkSession.sparkContext.defaultParallelism, 8)
        train = train.repartition(n_parts, id_col)
    tr = train.select(
        F.col(id_col).alias("train_id"), grams(train).alias("_g")
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"), grams(eval_df).alias("_g")
    )
    return (
        tr.join(F.broadcast(ev), "_g")
        .groupBy("train_id", "eval_id")
        .agg(F.countDistinct("_g").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20, local_threshold: int = 2_000_000
) -> DataFrame:
    """Edge list → (node, component) labels.

    Adaptive strategy: duplicate-cluster edge sets are tiny relative to
    the corpus (pairs that survived banding AND verification), so below
    ``local_threshold`` edges we union-find on the driver — O(E α(E)),
    no per-iteration job overhead. The default bound is driver-heap
    arithmetic, not vibes: 2M edges collect as ~2M Rows of two longs
    (~100 B each with Row/dict overhead) plus a ≤4M-entry parent dict
    (~60 B/entry) ≈ 450 MB transient — comfortable on any driver sized
    for a 100 TB job (tens of GB); raise/lower it with driver heap.

    Above the threshold (pathological boilerplate at 100 TB), fall back
    to distributed min-id label propagation over localCheckpointed
    labels, ACCELERATED by a pointer-jumping step each round (labels
    re-join onto themselves so a chain halves every iteration —
    O(log diameter) rounds, the large-star/small-star idea from
    Kiveris et al. 2014). Raises RuntimeError if the loop exits without
    converging — never silently returns split components.

    Lifecycle note: each iteration's localCheckpoint pins label-table
    blocks (two longs per node) until session GC — bounded by the
    O(log diameter) iteration count within one call, and unlike the
    non-iterative barriers (which use plans/materialize.pinned) these
    CANNOT be pooled: freeing a checkpoint invalidates every plan built
    on it, so the blocks must outlive the returned DataFrame."""
    n_edges = edges.count()
    if n_edges <= local_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        rows = edges.collect()
        for r in rows:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {r["a"] for r in rows} | {r["b"] for r in rows}
        labels = [(n, find(n)) for n in sorted(nodes)]
        return local_frame(
            edges.sparkSession,
            labels, "node long, component long"
        )
    sym = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .distinct()
        .localCheckpoint()  # reused every iteration — materialize once
    )
    labels = (
        sym.select("node")
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()  # truncate lineage per iteration (loop below)
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.nbr") == F.col("l.node"))
            .groupBy(F.col("e.node").alias("node"))
            .agg(F.min(F.col("l.component")).alias("nbr_comp"))
        )
        stepped = (
            labels.alias("l2")
            .join(nbr_min.alias("m"), F.col("l2.node") == F.col("m.node"), "left")
            .select(
                F.col("l2.node").alias("node"),
                F.least(
                    F.col("l2.component"),
                    F.coalesce(F.col("m.nbr_comp"), F.col("l2.component")),
                ).alias("component"),
            )
        )
        # pointer jumping: component ids ARE node ids, so re-joining a
        # label onto its component's label halves chain depth per round
        new_labels = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("node").alias("c_node"), F.col("component").alias("c_comp")
                ).alias("c"),
                F.col("s.component") == F.col("c.c_node"),
                "left",
            )
            .select(
                F.col("s.node").alias("node"),
                F.least(
                    F.col("s.component"),
                    F.coalesce(F.col("c.c_comp"), F.col("s.component")),
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: min-label propagation did not converge in "
            f"{max_iter} rounds (with pointer jumping that bounds component "
            f"diameter > 2^{max_iter}); raise max_iter"
        )
    return labels


def simhash(col: str, bits: int = 64, token_hash: str = "xxhash64") -> Column:
    """64-bit SimHash (Charikar 2002): per-token 64-bit hash; each bit
    votes ±1; sign of the vote sum forms the fingerprint.

    Single SQL expression (the Python ``F.shiftright`` wrapper only takes
    literal bit counts; the SQL function accepts expressions, so the
    bit loop lives in SQL). Pure codegen'd projection, no UDF.

    ``token_hash``: ``'xxhash64'`` (production default — fastest native
    64-bit hash) or ``'md5'`` — the first 15 md5 hex chars as a 60-bit
    int, computable bit-for-bit in DuckDB (``('0x'||substr(md5(t),1,15))
    ::BIGINT``), which makes the whole fingerprint oracle-checkable;
    pair it with ``bits=60``."""
    if token_hash == "xxhash64":
        th = "xxhash64(t)"
    elif token_hash == "md5":
        th = "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)"
    else:
        raise ValueError(f"unknown token_hash: {token_hash}")
    norm = (
        f"trim(regexp_replace(regexp_replace(lower({col}), "
        r"'[^\\w\\s]', ' '), '\\\\s+', ' '))"
    )
    tok = f"split({norm}, ' ')"
    # hash each token ONCE (transform), THEN fold bit votes over the
    # hash array — the hash inside the per-bit lambda would otherwise be
    # evaluated `bits` times per token (fatal for the md5 variant)
    hashes = f"transform({tok}, t -> {th})"
    votes = (
        f"aggregate({hashes}, "
        f"array_repeat(0L, {bits}), "
        "(acc, h) -> zip_with(acc, "
        f"transform(sequence(0, {bits - 1}), "
        "b -> IF((shiftright(h, b) & 1) = 1, 1L, -1L)), "
        "(a, v) -> a + v))"
    )
    fingerprint_sql = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        "(v, b) -> IF(v > 0, shiftleft(1L, b), 0L)), "
        "0L, (acc, x) -> acc | x)"
    )
    return F.expr(fingerprint_sql)


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    band_bits: int = 16,
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: band the ``bits``-wide fingerprint
    into bits/band_bits chunks; docs sharing any chunk are candidates.
    By pigeonhole the banding is EXHAUSTIVE for pairs within Hamming
    distance (bits/band_bits − 1): such a pair cannot differ in every
    band, so filtering candidates to ``hamming <= n_bands-1`` yields the
    exact all-pairs answer without an O(n²) join."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # At least 8 partitions: with defaultParallelism alone (sf0.1, 4
    # cores, warm median of 3) simhash_hamming_pairs_exact went 0.60 ->
    # 1.03 s and simhash_candidate_pairs 0.88 -> 1.09 s.
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    sh = df.repartition(n_parts, id_col).select(
        F.col(id_col).alias("doc"), simhash(text_col, bits, token_hash).alias("sh")
    )
    sh = pinned(sh, "simhash")  # simhash is the dominant cost; compute once
    banded = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sh", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sh", "bb.band", "bb.key")
    a = banded.select("band", "key", F.col("doc").alias("a"), F.col("sh").alias("sh_a"))
    b = banded.select("band", "key", F.col("doc").alias("b"), F.col("sh").alias("sh_b"))
    pairs = (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sh_a", "sh_b")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).drop("sh_a", "sh_b")


def brp_candidate_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_hash_tables: int = 4,
    bucket_length: float = 0.5,
) -> DataFrame:
    """The candidate stage of BucketedRandomProjectionLSH as a NATIVE
    long-key equi-join: fit the MLlib model (so the random projections
    and therefore the candidate SET are identical to
    ``approxSimilarityJoin``'s, seed 42), transform to bucket ids, then
    self-join on (table, bucket) as plain (int, long) keys. MLlib's own
    join compares Vector-UDT keys and runs its key-distance machinery
    per intra-bucket pair — measured 27s where this shape takes ~4s on
    the same data. Returns distinct (a < b) pairs; callers verify with
    an exact similarity predicate."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = df.select(
        F.col(id_col).alias("doc"), array_to_vector(vec_col).alias("raw")
    )
    normed = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(feats)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec",
        outputCol="hashes",
        seed=42,
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
    )
    model = lsh.fit(normed)
    h = (
        model.transform(normed)
        .select("doc", F.posexplode("hashes").alias("t", "hv"))
        .select(
            "doc", "t", vector_to_array("hv").getItem(0).cast("long").alias("h")
        )
    )
    x, y = h.alias("x"), h.alias("y")
    return (
        x.join(y, ["t", "h"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .distinct()
    )


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_hash_tables: int = 3,
    bucket_length: float = 0.5,
) -> DataFrame:
    """Embedding-cosine near-dup via BucketedRandomProjectionLSH on
    L2-normalized vectors (cosine ≥ t ⟺ euclidean ≤ √(2−2t) on the unit
    sphere), then exact cosine verify.

    Candidate→verify split: the LSH join runs at a slightly looser
    distance (so fp noise in the euclid-derived estimate can't drop a
    boundary pair), and the verify recomputes the EXACT double-precision
    cosine from the raw arrays — the same Σab/(‖a‖‖b‖) expression the
    DuckDB oracles use, so inclusion decisions are engine-identical."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    from .similarity import cosine as exact_cosine

    feats = df.select(
        F.col(id_col).alias("doc"), array_to_vector(vec_col).alias("raw")
    )
    normed = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(feats)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec",
        outputCol="hashes",
        seed=42,
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
    )
    model = lsh.fit(normed)
    # loosen the candidate radius by a relative margin; exact verify below
    dist = math.sqrt(max(0.0, 2.0 - 2.0 * threshold)) * 1.01 + 1e-6
    joined = model.approxSimilarityJoin(normed, normed, dist, distCol="euclid")
    pairs = joined.filter(F.col("datasetA.doc") < F.col("datasetB.doc")).select(
        F.col("datasetA.doc").alias("a"), F.col("datasetB.doc").alias("b")
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    return (
        pairs.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", exact_cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )

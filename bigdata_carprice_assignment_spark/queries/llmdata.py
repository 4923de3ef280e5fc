"""LLM-data-pipeline queries over documents/embeddings (driver north
star). SQL-expressible reductions carry DuckDB oracles; the LSH/SimHash/
multimodal pipelines are rows-only with pytest correctness harnesses
(tests/test_llm.py) on synthetic corpora with known duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as D
from ..llm import multimodal as MM
from ..llm import similarity as S
from ..llm import text as TX
from ..plans.materialize import local_frame, memo, pinned, pool_get
from ..registry import query
from ..sources.readers import load_table

# --------------------------------------------------------------------------
# Text analysis (oracle-backed).
# --------------------------------------------------------------------------


@query(
    "doc_token_stats_by_lang",
    oracle=r"""
SELECT lang,
       count(*) AS n_docs,
       round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens,
       round(avg(length(text)), 4) AS avg_chars,
       max(len(string_split_regex(trim(text), '\s+'))) AS max_tokens
FROM documents GROUP BY lang ORDER BY lang
""",
)
def doc_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.token_count("text").alias("tc"), F.length("text").alias("nc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
            F.round(F.avg("nc"), 4).alias("avg_chars"),
            F.max("tc").cast("long").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "doc_quality_by_source",
    oracle=r"""
WITH f AS (
  SELECT source,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_filter(string_split_regex(trim(text), '\s+'),
             t -> lower(t) IN ('the','and','of','to','a','in','is','for','with','on')))
           AS stop_hits,
         length(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g')) AS punct_chars
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(avg(stop_hits / greatest(n_tokens, 1)), 6) AS avg_stopword_ratio,
       round(avg(punct_chars / greatest(n_chars, 1)), 6) AS avg_punct_ratio,
       round(avg(n_chars), 2) AS avg_chars
FROM f GROUP BY source ORDER BY source
""",
)
def doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    return (
        docs.select(
            "source",
            feats["n_chars"].alias("n_chars"),
            feats["stopword_ratio"].alias("sr"),
            feats["punct_ratio"].alias("pr"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("sr"), 6).alias("avg_stopword_ratio"),
            F.round(F.avg("pr"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("source")
    )


@query(
    "doc_lang_id_agreement",
    oracle=r"""
WITH f AS (
  SELECT lang,
    len(list_filter(string_split_regex(trim(text), '\s+'), t -> lower(t) IN
        ('the','and','of','to','a','in','is','for','with','on')))::DOUBLE AS s_en,
    len(list_filter(string_split_regex(trim(text), '\s+'), t -> lower(t) IN
        ('el','la','de','que','y','en','un','una','los','por')))::DOUBLE AS s_es,
    len(list_filter(string_split_regex(trim(text), '\s+'), t -> lower(t) IN
        ('le','la','de','et','les','des','un','une','est','dans')))::DOUBLE AS s_fr,
    len(list_filter(string_split_regex(trim(text), '\s+'), t -> lower(t) IN
        ('der','die','das','und','ist','von','mit','den','ein','nicht')))::DOUBLE AS s_de,
    (length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')))::DOUBLE AS s_zh
  FROM documents
),
g AS (
  SELECT lang, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best,
         s_de, s_en, s_es, s_fr, s_zh
  FROM f
)
SELECT lang,
       CASE WHEN best <= 0 THEN 'und'
            WHEN s_de = best THEN 'de'
            WHEN s_en = best THEN 'en'
            WHEN s_es = best THEN 'es'
            WHEN s_fr = best THEN 'fr'
            ELSE 'zh' END AS predicted,
       count(*) AS n
FROM g GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def doc_lang_id_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the corpus's lang column: confusion counts
    (the stopword-evidence argmax ladder, replicated in the oracle with
    the same deterministic tie-break — language code ascending)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query(
    "doc_fingerprint_stats",
    oracle="""
SELECT count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9_\\s]', ' ', 'g'), '\\s+', ' ', 'g')))) AS n_distinct_normalized
FROM documents
""",
)
def doc_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup key cardinality (normalized md5 content hash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(TX.content_hash("text")).alias("n_distinct_normalized"),
    )


# --------------------------------------------------------------------------
# Embedding similarity (oracle-backed brute force; LSH/IVF rows-only).
# --------------------------------------------------------------------------


@query(
    "embedding_norm_stats",
    oracle="""
SELECT label,
       count(*) AS n,
       round(avg(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_l2_norm
FROM embeddings GROUP BY label ORDER BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", S.l2_norm(F.col("embedding")).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_l2_norm"),
        )
        .orderBy("label")
    )


@query(
    "cosine_topk_vs_query",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(e.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(q.qe,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
  FROM embeddings e, q
)
SELECT vec_id, round(dot / (na * nb), 6) AS cosine
FROM s WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)
def cosine_topk_vs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return (
        S.cosine_topk(
            emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=10
        )
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
    )


@query("cosine_topk_lsh_vs_query")
def cosine_topk_lsh_vs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH) variant of the same probe — rows-only; recall vs
    the exact result asserted in tests/test_llm.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    hits = S.cosine_topk_lsh(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=10
    )
    return hits.select("vec_id", F.round("cosine", 6).alias("cosine"))


@query("ivf_topk_vs_query")
def ivf_topk_vs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse-quantized probe (scale path) — rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    model, assigned = S.ivf_index(emb, "embedding", n_cells=8, id_col="vec_id")
    return (
        S.ivf_topk(model, assigned.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec, k=10, nprobe=3)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Dedup pipelines (rows-only; synthetic-corpus correctness in tests).
# --------------------------------------------------------------------------


@query(
    "exact_dedup_documents",
    oracle="""
WITH h AS (
  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS digest
  FROM documents
)
SELECT count(*) AS n_docs,
       count(*) - count(DISTINCT digest) AS n_duplicates,
       count(DISTINCT digest) AS n_canonical
FROM h
""",
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flagged = D.exact_dedup(docs, "text", "doc_id")
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_duplicate").cast("long")).alias("n_duplicates"),
        F.countDistinct("canonical_id").alias("n_canonical"),
    )


@query("minhash_near_dup_documents")
def minhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup summary over the documents corpus.

    Same pipeline as ``D.minhash_dedup`` (signatures → banded candidates
    → exact-Jaccard verify → connected components) but the SUMMARY is
    folded from the component label table directly: labels only exist
    for docs inside a verified near-dup cluster (≪ corpus by
    construction — they survived banding AND verification), so joining
    them back over the full corpus just to count flags re-scans the
    corpus for nothing. n_near_duplicates = labeled nodes that are not
    their own component root; n_canonical = n_docs − that.

    The verified t=0.6 pair set is memoized per (session, corpus) like
    its t=0.8 sibling (``_verified_minhash_pairs_08``): banding +
    exact-Jaccard verify is a corpus-keyed dedup index over immutable
    parquet, so later calls reuse it instead of rebuilding it."""
    docs = load_table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        # opportunistic signature reuse: slice the memoized 64-hash table
        # when a t=0.8-family query already built it (value-identical
        # prefix seeds); otherwise build the 32-hash signatures directly —
        # forcing the 64 build here would double THIS query's signature
        # cost to subsidize queries that may never run
        sh = _doc_shingles(spark, sf_dir)
        if pool_get(("doc_sigs64", sf_dir), spark) is not None:
            sigs = _doc_sigs_prefix(spark, sf_dir, 32)
        else:
            sigs = D.minhash_signatures(docs, "text", "doc_id", 32, shingled=sh)
        pairs = D.minhash_band_pairs(sigs, "doc_id", bands=8, num_hashes=32)
        return D.jaccard_verify(
            docs, pairs, "text", "doc_id", 0.6, shingled=sh
        ).select("a", "b")

    verified = memo(spark, ("minhash_verified", sf_dir, 0.6), build)
    comp = D.connected_components(verified)
    n_docs = docs.count()
    dup = comp.agg(
        F.sum((F.col("node") != F.col("component")).cast("long")).alias("d")
    ).first()
    n_dup = int(dup["d"] or 0)
    return local_frame(
        spark,
        [(n_docs, n_dup, n_docs - n_dup)],
        "n_docs long, n_near_duplicates long, n_canonical long",
    )


@query("simhash_candidate_pairs")
def simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding candidates with Hamming distance ≤ 12."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_candidates(docs, "text", "doc_id", band_bits=16)
    return (
        pairs.filter(F.col("hamming") <= 12)
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


@query("ngram_jaccard_near_dups")
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over MinHash candidates (candidate→verify)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)
    sigs = _doc_sigs_prefix(spark, sf_dir, 32)
    pairs = D.minhash_band_pairs(
        sigs,
        "doc_id",
        num_hashes=32,
        # r12: memoized banding — the 32-hash prefix sigs are memoized,
        # so the derived banded table is the same corpus-keyed index state
        key=("doc_sigs64", sf_dir, 32),
    )
    verified = D.jaccard_verify(
        docs, pairs, "text", "doc_id", threshold=0.5, shingled=sh
    )
    return verified.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )


@query("embedding_near_dup_pairs")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (LSH candidate + exact verify)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(emb, "embedding", "vec_id", threshold=0.9)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("cosine"), 6).alias("avg_cosine"),
    )


# --------------------------------------------------------------------------
# Approximate-pipeline recall oracles: the sketch→candidate→verify
# pipelines are checked against DuckDB brute-force ALL-PAIRS ground truth.
# These pass only when the approximate stage has perfect recall on the
# corpus (params chosen so the miss probability is ≈0, or — for SimHash
# banding — recall is GUARANTEED by pigeonhole), making them hard
# correctness gates on the whole pipeline, not just the verify step.
# --------------------------------------------------------------------------

# word-3-gram shingle sets, replicating llm/text.py::shingles (normalize →
# whitespace tokens → 3-gram join → distinct) in DuckDB list functions.
_DUCK_SHINGLES = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS grams
  FROM tk
)
"""


@query(
    "minhash_lsh_recall_pairs",
    oracle=_DUCK_SHINGLES
    + """
, pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         len(list_intersect(a.grams, b.grams))::DOUBLE
           / len(list_distinct(list_concat(a.grams, b.grams))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a, b, round(j, 6) AS jaccard
FROM pairs WHERE j >= 0.8 ORDER BY a, b
""",
)
def minhash_lsh_recall_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates → exact-Jaccard verify at t=0.8, checked
    against DuckDB brute-force all-pairs Jaccard. 64 hashes / 16 bands
    of 4 ⇒ per-pair miss probability (1−0.8⁴)¹⁶ ≈ 2·10⁻⁴ at the exact
    threshold (≤7·10⁻⁶ at the corpus's planted-pair similarities) while
    keeping the candidate set sparse — width-2 bands would admit ~all
    mid-similarity pairs and degenerate the banding into an all-pairs
    join. Verified equal to brute force on both test corpora; Jaccard
    is a ratio of integers in both engines, so threshold decisions and
    6dp rounding are bit-identical."""
    verified = _verified_minhash_pairs_08(spark, sf_dir)
    return verified.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


@query(
    "simhash_hamming_pairs_exact",
    oracle=r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
hs AS (
  SELECT doc_id,
         list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hv
  FROM tk
),
fp AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 60), b ->
             CASE WHEN list_sum(list_transform(hv, h ->
                 CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             THEN (1::BIGINT << b) ELSE 0 END)) AS sh
  FROM hs
)
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY a, b
""",
)
def simhash_hamming_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding checked against DuckDB brute-force all-pairs
    Hamming distance. Uses the md5-derived 60-bit token hash (identical
    in both engines) and 4 bands of 15 bits: by pigeonhole every pair
    within Hamming distance 3 shares a band, so the banded candidate set
    filtered to hamming≤3 IS the exact all-pairs answer — guaranteed
    recall, not probabilistic."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_candidates(
        docs, "text", "doc_id", band_bits=15, bits=60, token_hash="md5"
    )
    return (
        pairs.filter(F.col("hamming") <= 3)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a", "b")
    )


# The `embeddings` table is near-orthogonal noise (all-pairs max cosine
# ≈ 0.5 — measured): NO ANN method can honestly reproduce exact top-k
# over it, so the hard recall gates run over embeddings that carry real
# structure — the hashing-trick shingle histogram of the documents
# corpus (llm/text.py::hashed_shingle_features), where planted near-dup
# texts land at cosine ≥ 0.9 and unrelated texts stay ≤ ~0.73. The
# vectorizer is engine-portable (md5 bucket hash), so DuckDB computes
# the identical vectors and the brute-force all-pairs ground truth.
_DUCK_HASHED_FEATURES = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM n),
shg AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS grams
  FROM tk
),
hv AS (
  SELECT doc_id,
         list_transform(grams,
             g -> ('0x' || substr(md5(g), 1, 15))::BIGINT & 63) AS hs
  FROM shg
),
f AS (
  SELECT doc_id,
         list_transform(range(0, 64),
             b -> len(list_filter(hs, h -> h = b))::DOUBLE) AS feat
  FROM hv
),
p AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         list_sum(list_transform(list_zip(a.feat, b.feat), q -> q[1]*q[2]))
           / (sqrt(list_sum(list_transform(a.feat, x -> x*x)))
            * sqrt(list_sum(list_transform(b.feat, x -> x*x)))) AS c
  FROM f a JOIN f b ON a.doc_id < b.doc_id
)
"""


def _hashed_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorize the corpus ONCE per (session, sf_dir) and share the
    pinned result across every ANN/dedup query — a real engine amortizes
    feature/index construction over the queries that use it instead of
    re-vectorizing per query (the parquet inputs are immutable, so the
    cache cannot go stale; a new session rebuilds)."""
    return memo(
        spark,
        ("hashed_doc_features", sf_dir),
        lambda: TX.hashed_shingle_features_df(
            _doc_norm_tokens(spark, sf_dir), "text", "doc_id", tokens_col="toks"
        ),
    )


def _srp_sigs60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-setting (60-bit) SRP signatures, computed ONCE per
    (session, sf_dir) and shared across the mechanism-exact gate's two
    self-join sides. Without a materialization point the banding
    self-join holds the signature subtree TWICE (one per side): the
    pandas-UDF projection and its generated code both run and compile
    twice (measured +7.4s on the gate's cold pass). The table is n rows
    of (id, one-word array) — the cheapest possible pin."""
    return memo(
        spark,
        ("srp_sigs60", sf_dir),
        lambda: S.srp_signatures(
            _hashed_doc_features(spark, sf_dir), "feat", "doc_id", n_bits=60
        ),
    )


def _corpus_vec_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Catalog statistics for the hashed-feature corpus — (n_docs,
    n_distinct feature vectors) — computed by ONE aggregate job per
    (session, sf_dir) and memoized (the parquet inputs are immutable, so
    the two counts can never go stale). These feed ``srp_knn_join``'s
    ``n_docs_stat`` / ``n_distinct_stat`` so the benched gates run with
    ZERO per-call count jobs. At 100 TB the same numbers come off the
    stats table ``sources.layout.write_corpus_stats`` records at
    ingest (read_corpus_stats) — this helper is the local stand-in for
    that catalog read (the test corpora are read-only, so the stats
    file cannot be co-located with the data here)."""

    def build() -> dict:
        row = _hashed_doc_features(spark, sf_dir).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("feat")).alias("n_distinct"),
        ).first()
        return {"n_docs": row["n_docs"], "n_distinct": row["n_distinct"]}

    return memo(spark, ("corpus_vec_stats", sf_dir), build)


def _doc_norm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, text, toks) with toks =
    tokens(normalize_text(text)), computed ONCE per (session, sf_dir)
    and shared by the text-retrieval/quality family (tfidf, bm25,
    contamination, repetition): normalize+tokenize is the dominant cost
    of each AND its regex/higher-order-lambda expression tree is the
    single most expensive thing in the whole repo to codegen (~5s of
    Janino per distinct plan) — pooling removes both the re-execution
    and the re-compilation from every consumer (round-5 bench:
    keyword_search_tfidf 0.94s cold → 7.5s WARM from exactly this
    recompile). Immutable parquet ⇒ the memo can't go stale."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        # At least 8 partitions: with defaultParallelism alone (sf0.1, 4
        # cores, warm median of 3) semantic_dedup_prune_stats went 0.96 ->
        # 1.54 s and rrf_fused_retrieval_top10 1.71 -> 2.22 s, though
        # vocab_zipf_top20 went 0.76 -> 0.51 s.
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
        return docs.repartition(n_parts, "doc_id").select(
            "doc_id",
            "source",
            "lang",
            "text",
            TX.tokens(TX.normalize_text(F.col("text"))).alias("toks"),
        )

    return memo(spark, ("doc_norm_tokens", sf_dir), build)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word-3-gram shingle arrays, computed ONCE per (session,
    sf_dir) — the shared expensive prefix of every MinHash/Jaccard
    pipeline (normalize + tokenize + n-gram join dominates signature
    aggregation ~3:1). Immutable input ⇒ the pinned table can't go
    stale."""
    return memo(
        spark,
        ("doc_shingles", sf_dir),
        lambda: _doc_norm_tokens(spark, sf_dir).select(
            "doc_id", TX.shingles_from_tokens(F.col("toks")).alias("_sh")
        ),
    )


def _doc_sigs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-hash MinHash signature table per (session, sf_dir), shared by
    EVERY MinHash variant over the corpus: the seed scheme is 0..63, so a
    k<64-hash pipeline's signature is exactly ``slice(signature, 1, k)``
    — one shingle-explode + min-aggregate (the dominant signature cost)
    serves the t=0.6 dedup (32 hashes), the candidate→verify family (32)
    and the t=0.8 recall/canonicalization family (64). Immutable parquet
    ⇒ the memo can't go stale."""
    return memo(
        spark,
        ("doc_sigs64", sf_dir),
        lambda: D.minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            "text",
            "doc_id",
            num_hashes=64,
            shingled=_doc_shingles(spark, sf_dir),
        ),
    )


def _doc_sigs_prefix(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """First-k-seed slice of the pooled 64-hash signature table (value-
    identical to building k signatures directly — see _doc_sigs64)."""
    return _doc_sigs64(spark, sf_dir).select(
        "doc_id", F.slice("signature", 1, k).alias("signature")
    )


def _verified_minhash_pairs_08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard-verified MinHash pairs at t=0.8 (64 hashes, 16
    bands), built once per (session, sf_dir) and shared by the recall
    gate and the canonicalization query — signature computation + verify
    is the expensive half of both pipelines and the inputs are
    immutable, so rebuilding it per query is pure waste."""

    def build() -> DataFrame:
        sigs = _doc_sigs64(spark, sf_dir)
        pairs = D.minhash_band_pairs(sigs, "doc_id", bands=16, num_hashes=64)
        return D.jaccard_verify(
            load_table(spark, sf_dir, "documents"),
            pairs,
            "text",
            "doc_id",
            threshold=0.8,
            shingled=_doc_shingles(spark, sf_dir),
        )

    return memo(spark, ("minhash_verified", sf_dir, 0.8), build)


def _blocked_pairs_085(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked-BLAS cosine pairs at t=0.85 over the hashed-shingle
    features, built once per (session, sf_dir) and shared by the exact
    primitive and both recall gates — the gram-matrix sweep is the
    dominant cost of all three and the parquet inputs are immutable, so
    per-query rebuilds are pure waste (round-4 bench: the warm pass
    re-paid the full sweep per query and ran SLOWER than cold)."""
    return memo(
        spark,
        ("blocked_pairs", sf_dir, 0.85),
        lambda: S.blocked_cosine_pairs(
            _hashed_doc_features(spark, sf_dir), "feat", "doc_id", threshold=0.85
        ),
    )


def _lsh_verified_pairs_085(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRP-LSH candidates ∩ exact ≥0.85 pairs (the recall-gate pair set),
    once per (session, sf_dir) — shared by ``embedding_near_dup_recall``
    and ``lsh_knn_join_top1`` (identical pipeline prefix; only the final
    reduction differs)."""

    def build() -> DataFrame:
        feats = _hashed_doc_features(spark, sf_dir)
        cand = D.brp_candidate_pairs(feats, "feat", "doc_id", num_hash_tables=4)
        return _blocked_pairs_085(spark, sf_dir).join(cand, ["a", "b"], "leftsemi")

    return memo(spark, ("lsh_verified_pairs", sf_dir, 0.85), build)


def _ivf_index(spark: SparkSession, sf_dir: str, n_cells: int | None) -> tuple:
    """(quantizer, assigned) IVF index over the hashed features, once per
    (session, sf_dir, n_cells): an engine amortizes index construction
    across the queries that probe it. The memo entry holds the
    driver-side centroids next to the pinned assigned table."""

    def build() -> tuple:
        feats = _hashed_doc_features(spark, sf_dir)
        model, assigned = S.ivf_index(feats, "feat", n_cells=n_cells, id_col="doc_id")
        return model, pinned(assigned, ("ivf_assigned", sf_dir, n_cells))

    return memo(spark, ("ivf_index", sf_dir, n_cells), build)


@query(
    "embedding_near_dup_recall",
    oracle=_DUCK_HASHED_FEATURES
    + """
SELECT a, b, round(c, 6) AS cosine
FROM p WHERE c >= 0.85 ORDER BY a, b
""",
)
def embedding_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pipeline (BRP-LSH candidates + exact double
    cosine verify) over hashed-shingle document embeddings, checked
    against DuckDB brute-force all-pairs cosine at t=0.85 — the planted
    near-dup pairs sit at ≥ 0.9 and noise tops out ≈ 0.73, so the LSH
    stage must reach perfect recall for the hash to match. The verify
    recomputes Σab/(‖a‖‖b‖) from the raw arrays with the same fold the
    oracle uses, so inclusion and 6dp rounding agree exactly.

    Execution shape: the TRUE pair set comes from the blocked-BLAS
    exact join (LSH cannot prune at this threshold-to-noise margin —
    see ``blocked_cosine_pairs``); the BRP-LSH candidate stage runs as
    a native (table, bucket) long-key join and the result is the
    intersection, so an LSH recall miss still surfaces as an oracle
    mismatch."""
    pairs = _lsh_verified_pairs_085(spark, sf_dir)
    return pairs.select("a", "b", F.round("cosine", 6).alias("cosine")).orderBy(
        "a", "b"
    )


@query(
    "exact_cosine_pairs_blocked",
    oracle=_DUCK_HASHED_FEATURES
    + """
SELECT a, b, round(c, 6) AS cosine
FROM p WHERE c >= 0.85 ORDER BY a, b
""",
)
def exact_cosine_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs cosine similarity join (≥ 0.85) via the blocked
    BLAS gram-matrix kernel — the first-class exact-kNN primitive for
    thresholds where LSH can't prune at perfect recall. Oracle is
    DuckDB brute force over the same hashed-shingle features."""
    pairs = _blocked_pairs_085(spark, sf_dir)
    return pairs.select("a", "b", F.round("cosine", 6).alias("cosine")).orderBy(
        "a", "b"
    )


_KNN_TOP1_ORACLE = _DUCK_HASHED_FEATURES + """
, sym AS (
  SELECT a AS doc_id, b AS nn, c FROM p WHERE c >= 0.85
  UNION ALL
  SELECT b AS doc_id, a AS nn, c FROM p WHERE c >= 0.85
),
r AS (
  SELECT doc_id, nn, c,
         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, nn ASC) AS rn
  FROM sym
)
SELECT doc_id, nn AS nn_id, round(c, 6) AS cosine
FROM r WHERE rn = 1 ORDER BY doc_id
"""


@query("lsh_knn_join_top1", oracle=_KNN_TOP1_ORACLE)
def lsh_knn_join_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH kNN-join recall gate: every document with a true ≥0.85-cosine
    partner must retrieve its best partner via the BRP-LSH similarity
    join — checked against DuckDB brute-force all-pairs top-1. Same
    blocked-exact ∩ LSH-candidates shape as ``embedding_near_dup_recall``
    (an LSH miss still breaks the hash check)."""
    pairs = _lsh_verified_pairs_085(spark, sf_dir)
    sym = pairs.select(
        F.col("a").alias("doc_id"), F.col("b").alias("nn"), F.col("cosine")
    ).unionByName(
        pairs.select(
            F.col("b").alias("doc_id"), F.col("a").alias("nn"), F.col("cosine")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("cosine"), F.asc("nn"))
    return (
        sym.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id", F.col("nn").alias("nn_id"), F.round("cosine", 6).alias("cosine")
        )
        .orderBy("doc_id")
    )


@query("ivf_knn_join_top1", oracle=_KNN_TOP1_ORACLE)
def ivf_knn_join_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF batch kNN-join recall gate: probing the nprobe=4 of 8 nearest
    k-means cells per document must retrieve every true ≥0.85 partner
    (near-dup vectors land in nearby cells — real locality, verified on
    this corpus) — checked against the same brute-force top-1 oracle."""
    model, assigned = _ivf_index(spark, sf_dir, 8)
    top1 = S.ivf_knn_join(model, assigned, "feat", "doc_id", k=1, nprobe=4)
    return (
        top1.filter(F.col("cosine") >= 0.85)
        .select("doc_id", "nn_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_id")
    )


@query("srp_knn_join_adaptive_gate", oracle=_KNN_TOP1_ORACLE)
def srp_knn_join_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard correctness gate for the ADAPTIVE production SRP path
    (``srp_knn_join(band_bits=None)`` — the scale default that sizes
    band bits ~log2(n) so candidate growth stays linear; see
    ``srp_adaptive_band_bits``): its k=1 output at the planted-dup
    threshold must equal DuckDB's brute-force top-1. The pinned
    ``srp_candidate_pairs_exact`` gate checks the 10-bit MECHANISM
    bit-for-bit; this one checks the count→bits→dispatch→rerank path a
    cluster actually runs. Deterministic end to end (md5-derived
    hyperplanes, exact-integer features), so the hash check is stable.

    Scale: banding keeps candidates ~n·n_bands·(n/2^bits); the exact
    rerank touches candidates only."""
    feats = _hashed_doc_features(spark, sf_dir)
    stats = _corpus_vec_stats(spark, sf_dir)
    top1 = S.srp_knn_join(
        feats, "feat", "doc_id", k=1, band_bits=None,
        n_docs_stat=stats["n_docs"], n_distinct_stat=stats["n_distinct"],
        key=("hashed_doc_features", sf_dir),
    )
    return (
        top1.filter(F.col("cosine") >= 0.85)
        .select("doc_id", "nn_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_id")
    )


@query("srp_knn_join_production_gate", oracle=_KNN_TOP1_ORACLE)
def srp_knn_join_production_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the CHEAP production SRP profile: (design_cos
    0.94, miss 1e-2) instead of the tight (0.94, 1e-4) contract the
    adaptive gate pins. Because bands = ceil(ln miss / ln(1−p1)), the
    looser miss buys EXACTLY half the bands at every adaptive width
    (ln 1e-2 / ln 1e-4 = 1/2; at 13 bits: 19 tables vs 38, at 16: 28
    vs 56) — so ~half the banding exchange and candidate volume. (The
    superficially-cheaper-looking knob of lowering design_cos to 0.90
    at 1e-2 is NOT cheap: holding a miss bound on more-distant pairs
    costs almost all the savings back — 33 tables at 13 bits.) The
    round-7 scale probe priced the tight contract at 7.07× per 10×
    data; this gate demonstrates the recall/cost frontier is a KNOB —
    the cheap profile must still reproduce DuckDB's brute-force top-1
    at the planted-dup threshold on this corpus. Deterministic end to
    end (md5 hyperplanes), so the hash check is stable at every SF.

    Scale: same banded shape as the adaptive gate with half the
    tables; candidate volume stays ~n^1.15 with a ~2× smaller
    constant (probed at 10× in BENCH_SCALE_r08)."""
    feats = _hashed_doc_features(spark, sf_dir)
    stats = _corpus_vec_stats(spark, sf_dir)
    top1 = S.srp_knn_join(
        feats, "feat", "doc_id", k=1, band_bits=None,
        design_cos=0.94, miss=1e-2,
        n_docs_stat=stats["n_docs"], n_distinct_stat=stats["n_distinct"],
        key=("hashed_doc_features", sf_dir),
    )
    return (
        top1.filter(F.col("cosine") >= 0.85)
        .select("doc_id", "nn_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_id")
    )


def _ingested_feature_corpus(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """INGEST the hashed-feature corpus once per (session, sf_dir):
    write the features to a per-process temp parquet and record their
    catalog statistics next to them via
    ``sources.layout.write_corpus_stats`` — the ingest half of the
    catalog-stats contract, run for real instead of the process-cache
    stand-in (``_corpus_vec_stats``). The stats are computed FROM THE
    READ-BACK table, so they describe exactly the DataFrame later
    queries will route on (the documented stats contract). Returns
    (corpus_path, stats_path). The temp root is removed at process
    exit; the parquet inputs are immutable so the ingest can't go
    stale within a session."""
    import os
    from pathlib import Path

    from ..sources.layout import write_corpus_stats

    def build() -> tuple[str, str]:
        leaf = Path(sf_dir).resolve().as_posix().replace("/", "_")
        corpus = os.path.join(_INGEST_TMP.name, f"feats_{leaf}")
        stats = os.path.join(_INGEST_TMP.name, f"feats_{leaf}_stats")
        _hashed_doc_features(spark, sf_dir).write.mode("overwrite").parquet(corpus)
        write_corpus_stats(spark.read.parquet(corpus), stats, "feat")
        return corpus, stats

    return memo(spark, ("ingested_feature_corpus", sf_dir), build)


import tempfile as _tempfile  # noqa: E402

_INGEST_TMP = _tempfile.TemporaryDirectory(prefix="corpus_ingest_")


@query("srp_knn_join_ingested_stats_gate", oracle=_KNN_TOP1_ORACLE)
def srp_knn_join_ingested_stats_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CATALOG CONTRACT gate (VERDICT r10 Next #5): the
    benched SRP gates read their route-deciding statistics from a
    process cache because the driver corpora are read-only; this gate
    proves the real thing — the corpus is ingested (features written to
    a temp table, ``write_corpus_stats`` recording (n_docs, n_distinct)
    next to it), the stats are READ BACK from the stats file
    (``read_corpus_stats``, vec_col-checked), and ``srp_knn_join``
    routes off those numbers over the read-back table. Zero count jobs
    in the routed plan: the route came from the file, not a probe
    (loudly fails rather than silently falling back to probing if the
    stats file is missing/mismatched). Same brute-force top-1 DuckDB
    oracle as the other gates — feature counts are whole doubles, so
    the parquet roundtrip is bit-exact and the hash check is stable.

    Scale: this IS the 100 TB shape — stats land at ingest (one
    aggregate over data that is being written anyway), every later ANN
    query starts from the catalog row."""
    from ..sources.layout import read_corpus_stats

    corpus, stats_path = _ingested_feature_corpus(spark, sf_dir)
    stats = read_corpus_stats(spark, stats_path, vec_col="feat")
    if stats is None:
        raise RuntimeError(
            f"ingested corpus stats missing/mismatched at {stats_path}"
        )
    feats = spark.read.parquet(corpus)
    top1 = S.srp_knn_join(
        feats, "feat", "doc_id", k=1, band_bits=None,
        n_docs_stat=stats["n_docs"], n_distinct_stat=stats["n_distinct"],
        # keyed on the INGESTED table (the read-back parquet is the
        # immutable corpus this gate routes over), separate from the
        # derived features the other gates share
        key=("ingested_feature_corpus", sf_dir),
    )
    return (
        top1.filter(F.col("cosine") >= 0.85)
        .select("doc_id", "nn_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_id")
    )


@query("ivf_knn_join_adaptive_gate", oracle=_KNN_TOP1_ORACLE)
def ivf_knn_join_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard correctness gate for the ADAPTIVE production IVF path
    (``ivf_index(n_cells=None)`` — the FAISS-guideline ~4·sqrt(n) cell
    count that keeps the per-cell matmul O(n^1.5) instead of the pinned
    gate's O(n²) 8-cell setting): probing nprobe=4 of ~4√n cells must
    still retrieve every true ≥0.85 partner (near-identical vectors
    rank their cells near-identically, so the partner's home cell sits
    inside the probe list). Deterministic: seeded k-means on a
    deterministic hash-sample + exact cosine rerank."""
    model, assigned = _ivf_index(spark, sf_dir, None)
    top1 = S.ivf_knn_join(model, assigned, "feat", "doc_id", k=1, nprobe=4)
    return (
        top1.filter(F.col("cosine") >= 0.85)
        .select("doc_id", "nn_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Training-data pipeline operators (oracle-backed): deterministic
# stratified sampling, context-window chunking, sequence packing,
# repetition-based quality filtering. All pure Column expressions built
# on the engine-portable md5 hash where a decision must replicate in
# DuckDB.
# --------------------------------------------------------------------------


_SRP_ORACLE = _DUCK_HASHED_FEATURES + """
, sm AS (
  SELECT i.range AS i, j.range AS j,
         CASE WHEN ('0x' || substr(md5('srp:' || i.range || ':' || j.range), 1, 15))::BIGINT & 1 = 1
              THEN 1.0 ELSE -1.0 END AS s
  FROM range(0, 60) i, range(0, 64) j
),
bt AS (
  SELECT f.doc_id, sm.i,
         CASE WHEN sum(f.feat[sm.j + 1] * sm.s) >= 0
              THEN (1::BIGINT << sm.i) ELSE 0::BIGINT END AS bitval
  FROM f, sm GROUP BY f.doc_id, sm.i
),
sg AS (SELECT doc_id, sum(bitval)::BIGINT AS sig FROM bt GROUP BY doc_id),
cp AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         bit_count(xor(x.sig, y.sig))::BIGINT AS hamming
  FROM sg x JOIN sg y ON x.doc_id < y.doc_id
  WHERE ((x.sig >> 0) & 1023) = ((y.sig >> 0) & 1023)
     OR ((x.sig >> 10) & 1023) = ((y.sig >> 10) & 1023)
     OR ((x.sig >> 20) & 1023) = ((y.sig >> 20) & 1023)
     OR ((x.sig >> 30) & 1023) = ((y.sig >> 30) & 1023)
     OR ((x.sig >> 40) & 1023) = ((y.sig >> 40) & 1023)
     OR ((x.sig >> 50) & 1023) = ((y.sig >> 50) & 1023)
)
SELECT a, b, hamming FROM cp WHERE hamming <= 20 ORDER BY a, b
"""


@query("srp_candidate_pairs_exact", oracle=_SRP_ORACLE)
def srp_candidate_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection (cosine-LSH) candidate generation,
    MECHANISM-exact against DuckDB: the ±1 hyperplanes are md5-derived
    (engine-portable) and the features are integer counts, so every
    signature bit is an exact-integer sign decision that both engines
    reproduce bit-for-bit regardless of summation order — the oracle
    replays signatures, banding, and hamming, not just a recall spot
    check. This is the cosine-native LSH whose banding actually PRUNES
    on angular data (the euclidean BRP alternative collapses to one
    bucket on unit-norm vectors — see blocked_cosine_pairs); candidates
    at hamming ≤ 20 of 60 are the near-angular pairs. No bucket cap in
    this exactness gate (cap is production posture, srp_knn_join keeps
    it)."""
    sigs = _srp_sigs60(spark, sf_dir)
    pairs = S.srp_band_pairs(
        sigs, "doc_id", n_bits=60, band_bits=10, max_bucket=None
    )
    return (
        pairs.filter(F.col("hamming") <= 20)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("a", "b")
    )


@query(
    "stratified_sample_by_lang",
    oracle=r"""
WITH d AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < (
             CASE lang WHEN 'en' THEN 3000 WHEN 'fr' THEN 8000 ELSE 10000 END
         ) AS keep
  FROM documents
)
SELECT lang,
       count(*) AS n_total,
       count(*) FILTER (keep) AS n_kept,
       coalesce(sum(n_tokens) FILTER (keep), 0)::BIGINT AS kept_tokens
FROM d GROUP BY lang ORDER BY lang
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (rebalance a corpus by
    language: keep 30% of en, 80% of fr, all low-resource) — the
    keep-decision is a portable row hash, so it is reproducible across
    engines/retries/partitionings and DuckDB verifies the exact kept
    set, not just approximate rates."""
    docs = load_table(spark, sf_dir, "documents")
    frac = F.when(F.col("lang") == "en", F.lit(0.3)).when(
        F.col("lang") == "fr", F.lit(0.8)
    ).otherwise(F.lit(1.0))
    denom = 10_000
    keep = TX.portable_hash60(F.col("doc_id").cast("string")) % denom < F.round(
        frac * denom
    ).cast("long")
    return (
        docs.select("lang", TX.token_count("text").alias("nt"), keep.alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("nt"))), F.lit(0)
            ).cast("long").alias("kept_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "doc_chunking_stats",
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE doc_id < 200
),
s AS (
  SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 16, 1) + 1, 48)) AS start
  FROM t
),
c AS (
  SELECT doc_id, len(toks[start:start+63]) AS chunk_tokens
  FROM s
)
SELECT doc_id,
       count(*) AS n_chunks,
       sum(chunk_tokens)::BIGINT AS sum_chunk_tokens,
       min(chunk_tokens) AS min_chunk_tokens
FROM c GROUP BY doc_id ORDER BY doc_id
""",
)
def doc_chunking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token windows, 16-token overlap,
    every token covered; the training-data step between cleaning and
    packing) — explode shape, per-doc chunk accounting hash-checked
    against DuckDB's unnest+slice replica."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = TX.tokens("text")
    chunks = docs.select(
        "doc_id",
        tok.alias("toks"),
        F.explode(TX.chunk_starts(F.size(tok), 64, 16)).alias("start"),
    ).select(
        "doc_id",
        F.size(F.slice("toks", F.col("start"), 64)).cast("long").alias("chunk_tokens"),
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_tokens").alias("sum_chunk_tokens"),
            F.min("chunk_tokens").alias("min_chunk_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "sequence_packing_stats",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
o AS (
  SELECT shard, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM d
)
SELECT shard,
       count(*) AS n_docs,
       count(DISTINCT off // 512) AS n_sequences,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(sum(n_tokens)::DOUBLE / (count(DISTINCT off // 512) * 512), 6)
         AS utilization
FROM o GROUP BY shard ORDER BY shard
""",
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk into 512-token training
    sequences): docs are hash-sharded, each shard packs independently in
    doc order — the scale shape (no global window; one partition per
    shard) — and a doc's sequence id is its running token offset ÷
    budget. n_sequences counts sequences where at least one doc starts
    (an over-budget doc spills past its sequence)."""
    from pyspark.sql import Window

    budget = 512
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (TX.portable_hash60(F.col("doc_id").cast("string")) % 8).alias("shard"),
        TX.token_count("text").cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = d.withColumn("off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        o.withColumn("seq", F.floor(F.col("off") / budget))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq").alias("n_sequences"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("n_tokens") / (F.countDistinct("seq") * F.lit(budget)), 6
            ).alias("utilization"),
        )
        .orderBy("shard")
    )


@query(
    "eval_contamination_check",
    oracle=r"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM nrm),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(toks) - 7, 1) + 1),
             i -> array_to_string(toks[i:i+7], ' '))) AS grams
  FROM tk
)
SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
       len(list_intersect(tr.grams, ev.grams))::BIGINT AS n_shared
FROM sh tr JOIN sh ev ON tr.doc_id >= 10 AND ev.doc_id < 10
WHERE len(list_intersect(tr.grams, ev.grams)) >= 3
ORDER BY train_id, eval_id
""",
)
def eval_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training docs (doc_id ≥ 10)
    share ≥3 distinct word 8-grams with the held-out eval set
    (doc_id < 10)? Broadcast-join on the gram (the eval side is small by
    construction); checked against DuckDB's exact list-intersect."""
    docs = _doc_norm_tokens(spark, sf_dir)
    hits = D.ngram_contamination(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        "text",
        "doc_id",
        n=8,
        min_shared=3,
        tokens_col="toks",
    )
    return hits.select(
        F.col("train_id"), F.col("eval_id"), F.col("n_shared").cast("long").alias("n_shared")
    ).orderBy("train_id", "eval_id")


@query(
    "keyword_search_tfidf",
    oracle=r"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
tf AS (
  SELECT doc_id,
         count(*) FILTER (w = 'vector') AS tv,
         count(*) FILTER (w = 'join')   AS tj,
         count(*) FILTER (w = 'stream') AS ts
  FROM tk WHERE w IN ('vector', 'join', 'stream') GROUP BY doc_id
),
df AS (
  SELECT count(DISTINCT doc_id) FILTER (w = 'vector') AS dv,
         count(DISTINCT doc_id) FILTER (w = 'join')   AS dj,
         count(DISTINCT doc_id) FILTER (w = 'stream') AS ds
  FROM tk WHERE w IN ('vector', 'join', 'stream')
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id,
       round(tf.tv * ln((1.0 + n.n_docs) / (1.0 + df.dv))
           + tf.tj * ln((1.0 + n.n_docs) / (1.0 + df.dj))
           + tf.ts * ln((1.0 + n.n_docs) / (1.0 + df.ds)), 6) AS score
FROM tf, df, n
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
)
def keyword_search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: TF-IDF scoring (sklearn-style smoothed idf
    ln((1+N)/(1+df))) for a fixed 3-term query, top-10 docs. One
    explode→filter→aggregate pass computes per-doc term frequencies as
    FIXED columns so the score's floating-point addition order is
    identical in both engines (a grouped SUM over melted rows would add
    in nondeterministic order). Document frequencies are a broadcast
    1-row aggregate; ranking is TakeOrderedAndProject."""
    terms = ["vector", "join", "stream"]
    docs = _doc_norm_tokens(spark, sf_dir)
    n_docs = docs.count()  # one scalar to the driver (cached pool)
    toks = docs.select("doc_id", F.explode("toks").alias("w")).filter(
        F.col("w").isin(terms)
    )
    tf = toks.groupBy("doc_id").agg(
        *[
            F.sum((F.col("w") == t).cast("long")).alias(f"tf_{t}")
            for t in terms
        ]
    )
    dfreq = toks.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("w") == t, F.col("doc_id"))).alias(f"df_{t}")
            for t in terms
        ]
    )
    idf = {t: F.log((1.0 + n_docs) / (1.0 + F.col(f"df_{t}"))) for t in terms}
    score = sum(
        (F.col(f"tf_{t}") * idf[t] for t in terms[1:]),
        F.col(f"tf_{terms[0]}") * idf[terms[0]],
    )
    return (
        tf.crossJoin(F.broadcast(dfreq))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "doc_repetition_quality",
    oracle=r"""
WITH n AS (
  SELECT source,
         string_split(text, chr(10)) AS lines,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
g AS (
  SELECT source, lines,
         list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(toks[i:i+2], ' ')) AS grams
  FROM n
),
m AS (
  SELECT source,
         (len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines) AS dlr,
         (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams) AS dgr
  FROM g
)
SELECT source,
       count(*) AS n_docs,
       round(avg(dlr), 6) AS avg_dup_line_ratio,
       round(avg(dgr), 6) AS avg_dup_gram_ratio,
       count(*) FILTER (dgr > 0.2) AS n_flagged
FROM m GROUP BY source ORDER BY source
""",
)
def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (Gopher-style): duplicate-line
    and duplicate-3-gram ratios per source, plus how many docs a
    dup-gram >20% filter would drop. Integer-ratio doubles keep the
    threshold and rounding engine-exact."""
    docs = _doc_norm_tokens(spark, sf_dir)
    metrics = TX.repetition_metrics_df(docs, "text", "doc_id", tokens_col="toks")
    return (
        docs.select("doc_id", "source")
        .join(metrics, "doc_id")
        .select(
            "source",
            F.col("dup_line_ratio").alias("dlr"),
            F.col("dup_gram_ratio").alias("dgr"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dlr"), 6).alias("avg_dup_line_ratio"),
            F.round(F.avg("dgr"), 6).alias("avg_dup_gram_ratio"),
            F.sum((F.col("dgr") > 0.2).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Multimodal plumbing (rows-only; deterministic fake decode).
# --------------------------------------------------------------------------


@query(
    "multimodal_feature_extract",
    oracle=r"""
WITH f AS (
  SELECT octet_length(encode(text)) AS n_bytes, sha256(text) AS sha,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                   / length(text) END AS digit_ratio,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '\s', '', 'g')))::DOUBLE
                   / length(text) END AS ws_ratio,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                   / length(text) END AS upper_ratio
  FROM documents
)
SELECT count(*) AS n_media,
       count(*) AS n_decoded,
       round(avg(n_bytes), 2) AS avg_bytes,
       count(DISTINCT sha) AS n_distinct_payloads,
       round(avg(digit_ratio), 6) AS avg_digit_ratio,
       round(avg(ws_ratio), 6) AS avg_ws_ratio,
       round(avg(upper_ratio), 6) AS avg_upper_ratio
FROM f
""",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched mapInPandas
    with the REAL pure-stdlib decode (character-class ratios for these
    text payloads; the same kernel parses BMP/PNM pixel rasters and WAV
    PCM — pinned by tests/test_llm.py on hand-built payloads). The
    oracle recomputes the content-derived ratios with DuckDB regexp
    counts (identical operand order, so the doubles match before the
    round) plus the sha256/byte identity stats — proving both the Arrow
    round trip AND the decode outputs are content-exact."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    feats = MM.extract_features(media, decode="stdlib")
    return feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
        F.countDistinct("sha256").alias("n_distinct_payloads"),
        F.round(F.avg(F.element_at("feat", 1)), 6).alias("avg_digit_ratio"),
        F.round(F.avg(F.element_at("feat", 2)), 6).alias("avg_ws_ratio"),
        F.round(F.avg(F.element_at("feat", 4)), 6).alias("avg_upper_ratio"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id,
         least(greatest(octet_length(encode(text)) // 64, 1), 16) AS n_frames
  FROM documents WHERE doc_id < 50
)
SELECT media_id, n_frames, (n_frames - 1) * 500 AS last_ts_ms
FROM m ORDER BY media_id
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling kernel: one row per sampled frame; per-media frame
    counts hash-checked against the closed-form count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = MM.documents_as_media(docs)
    frames = MM.sample_frames(media, every_ms=500)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Round-3 training-data operators (oracle-backed): per-language quality-
# quantile filtering, deterministic source-mixture rebalancing, embedding
# centroid pooling, near-dup canonicalization by quality, and BM25
# retrieval. The quality score is replicated term-for-term in SQL (same
# literal order of float operations) so threshold decisions match.
# --------------------------------------------------------------------------

# Mirror of llm/text.py::quality_score — identical operand order so both
# engines produce bit-identical doubles from the same integer ratios.
_DUCK_QUALITY = r"""
qf AS (
  SELECT doc_id, lang, source,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(list_filter(string_split_regex(trim(text), '\s+'),
             t -> lower(t) IN ('the','and','of','to','a','in','is','for','with','on')))
           AS stop_hits,
         length(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g')) AS punct_chars,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars
  FROM documents
),
q AS (
  SELECT doc_id, lang, source,
         least(greatest(
             0.4 * (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
                         THEN 1.0 ELSE 0.3 END)
           + 0.3 * least(stop_hits / greatest(n_tokens, 1) * 4.0, 1.0)
           + 0.2 * (1.0 - least(punct_chars / greatest(n_chars, 1) * 4.0, 1.0))
           + 0.1 * (1.0 - least(digit_chars / greatest(n_chars, 1) * 4.0, 1.0)),
           0.0), 1.0) AS score
  FROM qf
)
"""


@query(
    "quality_topq_by_lang",
    oracle="WITH " + _DUCK_QUALITY + r"""
, r AS (
  SELECT lang, score,
         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr
  FROM q
)
SELECT lang,
       count(*) AS n_docs,
       count(*) FILTER (pr >= 0.75) AS n_kept,
       round(avg(score) FILTER (pr >= 0.75), 6) AS avg_kept_score,
       round(min(score) FILTER (pr >= 0.75), 6) AS min_kept_score
FROM r GROUP BY lang ORDER BY lang
""",
)
def quality_topq_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-quantile filter: keep each language's top
    quartile by the heuristic quality score (percent_rank ≥ 0.75 within
    the language partition — the per-stratum threshold a curriculum /
    filtering pipeline applies so high-resource languages don't set the
    bar for low-resource ones). Scores are doubles built from integer
    ratios with the oracle's exact operand order, so the rank cut is
    engine-identical. Scale shape: one narrow projection (score), one
    window shuffle on lang, one hash agg — no joins."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("lang", TX.quality_score("text").alias("score"))
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("score"))
    kept = F.col("pr") >= 0.75
    return (
        scored.withColumn("pr", pr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.round(F.avg(F.when(kept, F.col("score"))), 6).alias("avg_kept_score"),
            F.round(F.min(F.when(kept, F.col("score"))), 6).alias("min_kept_score"),
        )
        .orderBy("lang")
    )


@query(
    "source_mixture_rebalance",
    oracle=r"""
WITH c AS (
  SELECT source, count(*) AS n_before,
         min(count(*)) OVER () AS min_n
  FROM documents GROUP BY source
),
t AS (SELECT source, n_before, (min_n * 10000) // n_before AS thr FROM c),
k AS (
  SELECT d.source,
         ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000 < t.thr
           AS keep
  FROM documents d JOIN t ON d.source = t.source
)
SELECT k.source,
       count(*) AS n_before,
       count(*) FILTER (keep) AS n_kept,
       round(any_value(t.thr) / 10000.0, 4) AS keep_rate
FROM k JOIN t ON k.source = t.source
GROUP BY k.source ORDER BY k.source
""",
)
def source_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing: downsample every source to the
    smallest source's size (uniform target mixture) with the portable
    deterministic row hash, so the kept SET — not just the rates — is
    reproducible across engines, retries and partitionings. The
    keep-threshold is integer arithmetic ((min_n·10⁴) div n_s), so no
    float rounding can diverge. Scale shape: per-source counts are one
    tiny aggregate broadcast back onto the scan; the keep decision is a
    narrow projection (no shuffle of the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    # min-over-all via a 1-row broadcast, not `min(...) OVER ()` — the
    # empty window spec runs as a partitionless WindowExec at runtime
    # (single task + "No Partition Defined" warning) even though the
    # counts side is tiny.
    mn = counts.agg(F.min("n_before").alias("_mn"))
    counts = (
        counts.crossJoin(F.broadcast(mn))
        .withColumn("thr", F.expr("(_mn * 10000) div n_before"))
        .drop("_mn")
    )
    keep = (
        TX.portable_hash60(F.col("doc_id").cast("string")) % 10_000 < F.col("thr")
    )
    return (
        docs.join(F.broadcast(counts), "source")
        .select("source", "n_before", "thr", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.first("n_before").alias("n_before"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.round(F.first("thr") / 10000.0, 4).alias("keep_rate"),
        )
        .orderBy("source")
    )


@query(
    "embedding_centroid_by_label",
    oracle=r"""
WITH pe AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS pos,
         unnest(list_transform(embedding, x -> x::DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT label, pos, avg(v) AS comp FROM pe GROUP BY label, pos),
n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
SELECT c.label,
       any_value(n.n_vecs) AS n_vecs,
       count(*) AS dim,
       round(sqrt(sum(comp * comp)), 6) AS centroid_norm,
       round(avg(comp), 6) AS mean_component,
       round(max(abs(comp)), 6) AS max_abs_component
FROM c JOIN n ON c.label = n.label
GROUP BY c.label ORDER BY c.label
""",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid (mean-pool) of the embedding column per label — the
    aggregation a clustering/retrieval pipeline runs to build class
    prototypes. posexplode → one (label, pos) hash aggregate (map-side
    combine carries dim partial sums per task, never vectors), then a
    per-label reduction of the dim component means into scalar shape
    stats. Floats are cast to double BEFORE averaging on both engines;
    6dp rounding absorbs partial-aggregation addition-order noise."""
    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("label", "pos", "v")
    comp = pe.groupBy("label", "pos").agg(F.avg("v").alias("comp"))
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        comp.join(F.broadcast(n), "label")
        .groupBy("label")
        .agg(
            F.first("n_vecs").alias("n_vecs"),
            F.count(F.lit(1)).alias("dim"),
            F.round(F.sqrt(F.sum(F.col("comp") * F.col("comp"))), 6).alias(
                "centroid_norm"
            ),
            F.round(F.avg("comp"), 6).alias("mean_component"),
            F.round(F.max(F.abs("comp")), 6).alias("max_abs_component"),
        )
        .orderBy("label")
    )


@query(
    "near_dup_keep_best",
    oracle=_DUCK_SHINGLES.replace("WITH", "WITH RECURSIVE", 1) + r"""
, pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8
),
e2 AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM e2),
conn(x, y) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT c.x, e.b FROM conn c JOIN e2 e ON c.y = e.a
),
comp AS (SELECT x AS node, min(y) AS component FROM conn GROUP BY x),
""" + _DUCK_QUALITY.strip().rstrip(")").rstrip() + r"""
),
m AS (
  SELECT comp.component, comp.node, q.score
  FROM comp JOIN q ON q.doc_id = comp.node
),
r AS (
  SELECT component, node, score,
         row_number() OVER (PARTITION BY component
                            ORDER BY score DESC, node ASC) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM m
)
SELECT component, n_members, node AS kept_doc_id, round(score, 6) AS kept_quality
FROM r WHERE rn = 1 ORDER BY component
""",
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization, quality-aware: MinHash+LSH candidates
    → exact-Jaccard verify (t=0.8) → connected components → keep the
    HIGHEST-QUALITY member of each duplicate cluster (ties by id) — the
    step real corpus pipelines run instead of keep-first. The oracle
    recomputes components from brute-force all-pairs Jaccard with a
    recursive transitive closure, making this the hard driver check for
    the connected-components operator itself (previously rows-only)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    verified = _verified_minhash_pairs_08(spark, sf_dir)
    comp = D.connected_components(verified.select("a", "b"))
    scored = docs.select(
        F.col("doc_id").alias("node"), TX.quality_score("text").alias("score")
    )
    m = comp.join(scored, "node")
    w = Window.partitionBy("component").orderBy(F.desc("score"), F.asc("node"))
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("node").alias("kept_doc_id"),
            F.round("score", 6).alias("kept_quality"),
        )
        .orderBy("component")
    )


@query(
    "keyword_search_bm25",
    oracle=r"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id,
         count(*) FILTER (w = 'vector') AS tv,
         count(*) FILTER (w = 'join')   AS tj,
         count(*) FILTER (w = 'stream') AS ts
  FROM tk WHERE w IN ('vector', 'join', 'stream') GROUP BY doc_id
),
df AS (
  SELECT count(DISTINCT doc_id) FILTER (w = 'vector') AS dv,
         count(DISTINCT doc_id) FILTER (w = 'join')   AS dj,
         count(DISTINCT doc_id) FILTER (w = 'stream') AS ds
  FROM tk WHERE w IN ('vector', 'join', 'stream')
),
n AS (SELECT count(*) AS n_docs, avg(dl.dl) AS avgdl FROM dl)
SELECT tf.doc_id,
       round(
         ln(1.0 + (n.n_docs - df.dv + 0.5) / (df.dv + 0.5))
           * ((tf.tv * 2.2) / (tf.tv + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl)))
       + ln(1.0 + (n.n_docs - df.dj + 0.5) / (df.dj + 0.5))
           * ((tf.tj * 2.2) / (tf.tj + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl)))
       + ln(1.0 + (n.n_docs - df.ds + 0.5) / (df.ds + 0.5))
           * ((tf.ts * 2.2) / (tf.ts + 1.2 * (0.25 + 0.75 * dl.dl / n.avgdl))),
       6) AS score
FROM tf JOIN dl ON tf.doc_id = dl.doc_id, df, n
ORDER BY score DESC, tf.doc_id ASC LIMIT 10
""",
)
def keyword_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson-style idf, k1=1.2, b=0.75) for the same
    fixed 3-term query as the TF-IDF variant, top-10. Per-doc term
    frequencies are FIXED columns (score addition order is literal and
    engine-identical); document length and avgdl come from a narrow
    projection and a 1-row broadcast aggregate. Every float expression
    is written with the oracle's exact operand order."""
    terms = ["vector", "join", "stream"]
    k1, b = 1.2, 0.75
    base = _doc_norm_tokens(spark, sf_dir)
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    toks = base.select("doc_id", F.explode("toks").alias("w")).filter(
        F.col("w").isin(terms)
    )
    tf = toks.groupBy("doc_id").agg(
        *[F.sum((F.col("w") == t).cast("long")).alias(f"tf_{t}") for t in terms]
    )
    dfreq = toks.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("w") == t, F.col("doc_id"))).alias(f"df_{t}")
            for t in terms
        ]
    )
    stats = dl.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    def term_score(t: str) -> F.Column:
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        tfn = (F.col(f"tf_{t}") * (k1 + 1.0)) / (
            F.col(f"tf_{t}") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
        )
        return idf * tfn

    score = term_score(terms[0]) + term_score(terms[1]) + term_score(terms[2])
    return (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "quality_weighted_sample",
    oracle="WITH " + _DUCK_QUALITY + r"""
, keyed AS (
  SELECT lang, score,
         pow((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 + 0.5)
             / 1000000.0,
             1.0 / greatest(score, 0.001)) AS wkey
  FROM q
),
r AS (
  SELECT lang, score,
         row_number() OVER (PARTITION BY lang ORDER BY wkey DESC, score DESC) AS rn
  FROM keyed
)
SELECT lang,
       count(*) AS n_docs,
       count(*) FILTER (rn <= 50) AS n_sampled,
       round(avg(score), 6) AS avg_score_all,
       round(avg(score) FILTER (rn <= 50), 6) AS avg_score_sampled
FROM r GROUP BY lang ORDER BY lang
""",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): key = u^(1/w) with u from the portable row hash and
    w the quality score; the top-50 keys PER LANGUAGE are the sample.
    The oracle replicates key construction term-for-term, so the sampled
    SET is engine-identical — the audited quality-weighted subcorpus
    selection a training pipeline wants instead of rand(). Where the
    sample is a minority of its stratum, sampled docs skew
    higher-quality than the stratum average (asserted in tests).

    Scale: narrow projection (score+key), one window shuffle on lang,
    one hash agg — same shape as quality_topq_by_lang; the 'sample
    n per stratum' never collects or rand()s."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u = (
        (TX.portable_hash60(F.col("doc_id").cast("string")) % 1_000_000 + 0.5)
        / 1_000_000.0
    )
    score = TX.quality_score("text")
    keyed = docs.select(
        "lang",
        score.alias("score"),
        F.pow(u, 1.0 / F.greatest(score, F.lit(0.001))).alias("wkey"),
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("wkey"), F.desc("score"))
    )
    sampled = F.col("rn") <= 50
    return (
        keyed.withColumn("rn", rn)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(sampled.cast("long")).alias("n_sampled"),
            F.round(F.avg("score"), 6).alias("avg_score_all"),
            F.round(F.avg(F.when(sampled, F.col("score"))), 6).alias(
                "avg_score_sampled"
            ),
        )
        .orderBy("lang")
    )


@query(
    "doc_dedup_survivor_stats",
    oracle=r"""
WITH h AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS k
  FROM documents
),
r AS (
  SELECT source, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
  FROM h
)
SELECT source,
       count(*) AS n_docs,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM r GROUP BY 1 ORDER BY 1
""",
)
def doc_dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup yield accounting per source — the report every corpus
    ingest emits: keep-FIRST-by-id within each normalized content hash
    (deterministic canonical choice, engine-portable md5 key), then
    kept/dropped counts by source. The window partitions by content
    key (bounded groups — duplicate multiplicity), never globally."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(TX.content_hash("text")).orderBy("doc_id")
    r = docs.select("source", F.row_number().over(w).alias("rn"))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("source")
    )


@query(
    "embedding_dim_variance_top",
    oracle="""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS x
  FROM embeddings
)
SELECT dim::BIGINT AS dim, count(*) AS n,
       round(var_samp(x), 6) AS variance
FROM e GROUP BY 1
ORDER BY round(var_samp(x), 6) DESC, dim LIMIT 5
""",
)
def embedding_dim_variance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 highest-variance embedding dimensions — the feature-store
    column-statistics pass (dead/low-variance dims are pruning and
    quantization candidates). posexplode fans each vector into (dim,
    value) rows; the aggregate groups on 64 dims regardless of corpus
    size, so the variance state is map-side-combined and tiny."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("dim", "x"))
    return (
        e.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.var_samp(F.col("x").cast("double")), 6).alias("variance"),
        )
        .orderBy(F.desc("variance"), F.asc("dim"))
        .limit(5)
    )


@query(
    "doc_token_budget_by_source",
    oracle=r"""
SELECT source,
       count(*) AS n_docs,
       sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS ws_tokens,
       sum(len(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')))::BIGINT AS bpe_ish_tokens
FROM documents GROUP BY 1 ORDER BY 1
""",
)
def doc_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-token budget per source under BOTH counters the north
    star names: whitespace tokens and the BPE-ish sub-word proxy
    (word/number/punctuation pieces). The regex is engine-portable
    (same semantics in Java regex and RE2), so DuckDB recomputes the
    exact piece counts — this is the first oracle exercise of the
    bpe_ish counter (previously unit-only)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(TX.token_count("text")).cast("long").alias("ws_tokens"),
            F.sum(TX.bpe_ish_token_count("text")).cast("long").alias(
                "bpe_ish_tokens"
            ),
        )
        .orderBy("source")
    )


@query(
    "doc_length_token_corr",
    oracle=r"""
SELECT lang,
       count(*) AS n_docs,
       round(corr(length(text)::DOUBLE,
                  len(string_split_regex(trim(text), '\s+'))::DOUBLE), 6)
         AS len_token_corr
FROM documents GROUP BY 1 ORDER BY 1
""",
)
def doc_length_token_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-length vs token-count correlation per language — the
    sanity check behind chars-per-token budget heuristics (the ratio
    drifts per language/script). Inputs are exact integers; the sample
    correlation is the only float step, rounded at 6 dp on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.corr(
                    F.length("text").cast("double"),
                    TX.token_count("text").cast("double"),
                ),
                6,
            ).alias("len_token_corr"),
        )
        .orderBy("lang")
    )


@query(
    "doc_dup_cluster_sizes",
    oracle=r"""
WITH c AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS k,
         count(*) AS sz
  FROM documents GROUP BY 1
)
SELECT sz AS cluster_size, count(*) AS n_clusters
FROM c GROUP BY 1 ORDER BY 1
""",
)
def doc_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution (count-of-counts over
    the content hash) — the dedup severity profile: a fat tail here
    means boilerplate/spam, a flat 1-spike means the corpus is already
    clean. Two chained aggregations, second on |distinct contents|
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(TX.content_hash("text").alias("k"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


@query(
    "char_ngram_jaccard_pairs",
    oracle=r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
g AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 4, 1) + 1), i -> t[i:i+4])) AS grams
  FROM n
),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         len(list_intersect(a.grams, b.grams))::DOUBLE
           / len(list_distinct(list_concat(a.grams, b.grams))) AS j
  FROM g a JOIN g b ON a.doc_id < b.doc_id
)
SELECT a, b, round(j, 6) AS jaccard
FROM pairs WHERE j >= 0.8 ORDER BY a, b
""",
)
def char_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard near-dup pairs at t=0.8 — the char-gram
    axis of n-gram dedup (word shingles miss intra-word edits; char
    grams catch them), checked against DuckDB brute-force ALL-PAIRS
    char-gram Jaccard. Same candidate→verify shape as the word-shingle
    recall gate — with one twist: unrelated same-language documents
    share FAR more char grams than word shingles (background char-gram
    Jaccard ≈0.4 vs ≈0.01), so the word pipeline's width-4 bands admit
    ~2.5% of ALL pairs per band (measured 310k candidates at 5000
    docs). Char grams therefore band WIDER: 128 hashes in 16 bands of
    8 ⇒ background collision 0.4⁸ ≈ 7·10⁻⁴ per band (measured 718
    candidates, a 430× cut) while the ≥0.92 planted-pair miss
    probability stays ≈2·10⁻⁶ (verified pair-for-pair against the
    brute-force oracle at sf0.001/0.01/0.1). Banded bucket join —
    never all-pairs on the Spark side — then exact set Jaccard on the
    candidates only. Jaccard is a ratio of integers in both engines, so
    the threshold decision and 6dp rounding are bit-identical.

    Scale: the char-gram arrays are computed once (pooled persist,
    shared with any other char-gram pipeline on this corpus) and the
    verify step shingles candidate docs only — candidates ≪ corpus by
    LSH construction."""
    docs = load_table(spark, sf_dir, "documents")
    # At least 8 partitions: with defaultParallelism alone (sf0.1, 4
    # cores, warm median of 3, its minhash and verify steps unfloored
    # too) this query went 2.13 -> 2.33 s.
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    chsh = memo(
        spark,
        ("doc_char_ngrams", sf_dir, 5),
        lambda: docs.repartition(n_parts, "doc_id").select(
            "doc_id", TX.char_ngrams("text", 5).alias("_sh")
        ),
    )
    # The 128-hash signature table is memoized like _doc_sigs64 (r11):
    # the min-aggregate over ~exploded char grams × 128 permutations is
    # the dominant per-call cost and the input is immutable — before,
    # every warm run re-aggregated it (warm 6.2s ≈ cold in BENCH_r10's
    # detail), which is pure recompute of a corpus-keyed artifact.
    sigs_key = ("char_sigs", sf_dir, 128)
    sigs = memo(
        spark,
        sigs_key,
        lambda: D.minhash_signatures(
            docs, "text", "doc_id", num_hashes=128, shingled=chsh
        ),
    )
    pairs = D.minhash_band_pairs(
        sigs,
        "doc_id",
        bands=16,
        num_hashes=128,
        # r12: the banded table (doc × 16 band-bucket rows — per-call
        # xxhash64 over 128 casted hashes per doc) is corpus-keyed
        # index state exactly like ``sigs`` above; memoize it.
        key=sigs_key,
    )
    verified = D.jaccard_verify(
        docs, pairs, "text", "doc_id", threshold=0.8, shingled=chsh
    )
    return verified.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


@query(
    "prefix_filter_jaccard_pairs",
    oracle=_DUCK_SHINGLES
    + """
, pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b,
         len(list_intersect(a.grams, b.grams))::DOUBLE
           / len(list_distinct(list_concat(a.grams, b.grams))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a, b, round(j, 6) AS jaccard
FROM pairs WHERE j >= 0.8 ORDER BY a, b
""",
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC-complete set-similarity join via prefix filtering
    (the AllPairs/SSJoin discipline) — the exact counterpart of
    minhash_lsh_recall_pairs: where MinHash banding has a ~2e-4 miss
    probability at the threshold, the prefix filter is provably
    lossless. Tokens sort by global (document-frequency, token) order —
    rarest first; a set of size n keeps a prefix of n - ceil(0.8n) + 1
    tokens; two sets with Jaccard >= 0.8 MUST share their globally
    smallest common token inside both prefixes (if all >= ceil(0.8|X|)
    common tokens sat in a suffix of size ceil(0.8|X|)-1 the count
    would contradict itself), so the prefix-token equi-join plus exact
    verify equals brute force by construction.

    Scale: the df table is a grouped count over exploded shingles; the
    per-doc prefix cut is a (doc_id)-partitioned window (high
    cardinality, no global sort — the GLOBAL frequency order needs no
    global rank, only the (df, token) sort key); candidates join on
    prefix tokens only (rare by construction), and the exact verify
    reuses the pooled shingle table. This is the join you run when a
    legal/contractual dedup guarantee ("no pair above t survives")
    rules out probabilistic recall.

    r11b: the per-doc prefix-token table is POOLED per (session,
    corpus) — document frequencies, the global (df, token) order and
    the prefix cut are corpus-keyed index state over immutable parquet
    (same discipline as the signature pools); every warm run previously
    re-ran the explode + df groupBy + two windows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)

    def build() -> DataFrame:
        tok = sh.select("doc_id", F.explode("_sh").alias("g"))
        dfreq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "g")
        ranked = (
            tok.join(dfreq, "g")
            .withColumn("rn", F.row_number().over(w))
            .withColumn(
                "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
            )
        )
        return ranked.filter(
            F.col("rn") <= F.col("n") - F.expr("(8 * n + 9) div 10") + 1
        ).select("doc_id", "g")

    prefix = memo(spark, ("prefix_tokens", sf_dir, 0.8), build)
    a = prefix.select(F.col("doc_id").alias("a"), "g")
    b = prefix.select(F.col("doc_id").alias("b"), "g")
    cand = (
        a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    verified = D.jaccard_verify(
        docs, cand, "text", "doc_id", threshold=0.8, shingled=sh
    )
    return verified.select(
        "a", "b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("a", "b")


@query(
    "cross_source_dup_matrix",
    oracle=_DUCK_SHINGLES
    + """
, pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.8
),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.a
  JOIN documents db ON db.doc_id = pairs.b
)
SELECT source_a, source_b, count(*)::BIGINT AS n_dup_pairs
FROM lab GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-sliced near-duplication: the verified MinHash pair set
    (t=0.8, pooled — built once per session) joined back to each side's
    source label and folded into a source x source duplicate-pair
    matrix. This is the report that tells a corpus owner WHERE the
    duplication lives — within one crawl snapshot (diagonal) vs across
    snapshots/mirrors (off-diagonal) — and therefore which ingestion
    path to fix; the unordered (least, greatest) source pair keeps one
    row per unordered combination.

    Scale: the pair set is already candidate->verify bounded; the
    source labels broadcast from a two-column projection; the matrix is
    |sources|^2 rows at most."""
    docs = load_table(spark, sf_dir, "documents")
    verified = _verified_minhash_pairs_08(spark, sf_dir)
    lab = docs.select("doc_id", "source")
    la = lab.select(F.col("doc_id").alias("a"), F.col("source").alias("sa"))
    lb = lab.select(F.col("doc_id").alias("b"), F.col("source").alias("sb"))
    m = verified.select("a", "b").join(F.broadcast(la), "a").join(
        F.broadcast(lb), "b"
    )
    return (
        m.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@query(
    "embedding_cosine_calibration",
    oracle="""
WITH p AS (
  SELECT vec_id,
         ('0x' || substr(md5('pair:' || vec_id), 1, 15))::BIGINT
           % (SELECT count(*) FROM embeddings) AS partner
  FROM embeddings
),
pairs AS (
  SELECT a.embedding AS ea, b.embedding AS eb
  FROM p
  JOIN embeddings a ON a.vec_id = p.vec_id
  JOIN embeddings b ON b.vec_id = p.partner
  WHERE p.partner <> p.vec_id
),
c AS (
  SELECT list_sum(list_transform(list_zip(ea, eb),
             q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(ea,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(eb,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
  FROM pairs
),
b AS (SELECT CAST(floor(cos * 10) AS BIGINT) AS bin, cos FROM c)
SELECT bin,
       round(bin / 10.0, 1) AS bin_lo,
       count(*)::BIGINT AS n_pairs,
       round(avg(cos), 6) AS mean_cosine
FROM b GROUP BY bin ORDER BY bin
""",
)
def embedding_cosine_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space calibration: the cosine distribution over
    DETERMINISTIC pseudo-random vector pairs (each vector pairs with
    the one at portable-hash('pair:'||id) mod N, self-pairs dropped) —
    the anisotropy diagnostic for an embedding column: a healthy space
    concentrates random-pair cosine near 0; a collapsed space (all
    cosines high) makes every similarity threshold meaningless.
    Reported as 0.1-wide histogram bins with per-bin means; the hash
    pairing replaces rand() so both engines (and any retry) draw the
    IDENTICAL pair sample.

    Scale: the pairing is two int-key joins (no cross product, no
    sampling pass); the cosine folds are per-row expressions; at 100 TB
    you bound the probe side with keep_fraction first — the pairing is
    already uniform."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    p = emb.crossJoin(F.broadcast(n)).select(
        "vec_id",
        F.pmod(
            TX.portable_hash60(
                F.concat(F.lit("pair:"), F.col("vec_id").cast("string"))
            ),
            F.col("n"),
        ).alias("partner"),
    ).filter(F.col("partner") != F.col("vec_id"))
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = emb.select(
        F.col("vec_id").alias("partner"), F.col("embedding").alias("eb")
    )
    pairs = p.join(a, "vec_id").join(b, "partner")
    cos = S.cosine(F.col("ea"), F.col("eb")).alias("cos")
    c = pairs.select(cos)
    return (
        c.select(
            F.floor(F.col("cos") * 10).cast("long").alias("bin"), "cos"
        )
        .groupBy("bin")
        .agg(
            F.round(F.col("bin") / 10.0, 1).alias("bin_lo"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("cos"), 6).alias("mean_cosine"),
        )
        .select("bin", "bin_lo", "n_pairs", "mean_cosine")
        .orderBy("bin")
    )


@query(
    "packing_efficiency_by_budget",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens
  FROM documents
),
o AS (
  SELECT shard, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM d
),
b AS (SELECT unnest([128, 512, 2048]) AS budget)
SELECT b.budget::BIGINT AS budget,
       count(DISTINCT o.shard * 1000000000000 + o.off // b.budget)::BIGINT
         AS n_sequences,
       sum(o.n_tokens)::BIGINT AS total_tokens,
       round(sum(o.n_tokens)::DOUBLE
             / (count(DISTINCT o.shard * 1000000000000 + o.off // b.budget)
                * b.budget), 6) AS utilization
FROM o, b GROUP BY b.budget ORDER BY budget
""",
)
def packing_efficiency_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency CURVE across context budgets
    (128/512/2048 tokens) — the training-data planning readout behind
    context-length choice: short contexts waste little but cap
    attention span, long contexts amplify padding/fragmentation waste
    unless documents are long. One hash-shard running-offset pass
    (budget-independent) feeds all three budgets; a doc's sequence id
    is offset div budget, so the per-budget fold is a distinct-count
    over composed integer keys.

    Scale: the offsets window is (shard)-partitioned; the budget
    explode replicates the DOC-GRAIN offset table 3x, never the text;
    utilization = total_tokens / (n_sequences * budget) from exact
    integers."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (
            TX.portable_hash60(F.col("doc_id").cast("string")) % 8
        ).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = d.select(
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("off"),
    )
    budgets = F.explode(F.array(*[F.lit(b) for b in (128, 512, 2048)])).alias(
        "budget"
    )
    j = o.select("shard", "n_tokens", "off", budgets)
    key = F.col("shard") * F.lit(1_000_000_000_000) + F.expr("off div budget")
    return (
        j.groupBy("budget")
        .agg(
            F.count_distinct(key).alias("n_sequences"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / (F.count_distinct(key) * F.col("budget")),
                6,
            ).alias("utilization"),
        )
        .select(
            F.col("budget").cast("long").alias("budget"),
            "n_sequences",
            "total_tokens",
            "utilization",
        )
        .orderBy("budget")
    )


# --------------------------------------------------------------------------
# Round-5 additions: sketch calibration + retrieval-scorer agreement.
# --------------------------------------------------------------------------

_MINHASH_CAL_ORACLE = _DUCK_SHINGLES + """
, ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
sg AS (
  SELECT doc_id,
""" + ",\n".join(
    f"         min(('0x' || substr(md5('{i}:' || g), 1, 15))::BIGINT) AS m{i}"
    for i in range(16)
) + """
  FROM ex GROUP BY doc_id
),
pr AS (
  SELECT a.doc_id AS da,
         (""" + " + ".join(f"(a.m{i} = b.m{i})::INT" for i in range(16)) + """)::DOUBLE
           / 16.0 AS est,
         len(list_intersect(sa.grams, sb.grams))::DOUBLE
           / len(list_distinct(list_concat(sa.grams, sb.grams))) AS tru
  FROM sg a JOIN sg b ON b.doc_id = a.doc_id + 1
  JOIN sh sa ON sa.doc_id = a.doc_id
  JOIN sh sb ON sb.doc_id = b.doc_id
)
SELECT count(*)::BIGINT AS n_pairs,
       round(avg(est), 6) AS avg_estimate,
       round(avg(tru), 6) AS avg_true_jaccard,
       round(avg(abs(est - tru)), 6) AS mean_abs_error,
       round(max(abs(est - tru)), 6) AS max_abs_error
FROM pr
"""


@query("minhash_estimate_calibration", oracle=_MINHASH_CAL_ORACLE)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration, mechanism-exact: 16 md5-portable
    permutation minima per document (min over shingles of the 60-bit
    hash of 'i:gram'), Jaccard estimated as matching-minima/16 on the
    deterministic consecutive-id pair set, compared against the EXACT
    shingle-set Jaccard — mean/max absolute estimator error. The DuckDB
    oracle replays signatures, matches, and truth bit-for-bit, so this
    hash-checks the sketch's MECHANISM (the xxhash production variant in
    ``minhash_signatures`` shares the shape; its engine-specific hash is
    covered by the recall gates instead).

    Scale: signature build is one explode + grouped min (map-side
    combine); the calibration pair set is O(n), not all-pairs."""
    sh = _doc_shingles(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("_sh").alias("g"))
    sg = ex.groupBy("doc_id").agg(
        *[
            F.min(
                TX.portable_hash60(F.concat(F.lit(f"{i}:"), F.col("g")))
            ).alias(f"m{i}")
            for i in range(16)
        ]
    )
    b = sg.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        *[F.col(f"m{i}").alias(f"bm{i}") for i in range(16)],
    )
    shb = sh.select((F.col("doc_id") - 1).alias("doc_id"), F.col("_sh").alias("_shb"))
    est = (F.col("m0") == F.col("bm0")).cast("int")
    for i in range(1, 16):
        est = est + (F.col(f"m{i}") == F.col(f"bm{i}")).cast("int")
    pr = (
        sg.join(b, "doc_id")
        .join(sh, "doc_id")
        .join(shb, "doc_id")
        .select(
            (est.cast("double") / 16.0).alias("est"),
            (
                F.size(F.array_intersect("_sh", "_shb")).cast("double")
                / F.size(F.array_union("_sh", "_shb"))
            ).alias("tru"),
        )
    )
    return pr.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("est"), 6).alias("avg_estimate"),
        F.round(F.avg("tru"), 6).alias("avg_true_jaccard"),
        F.round(F.avg(F.abs(F.col("est") - F.col("tru"))), 6).alias("mean_abs_error"),
        F.round(F.max(F.abs(F.col("est") - F.col("tru"))), 6).alias("max_abs_error"),
    )


_RANK_OVERLAP_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id,
         count(*) FILTER (w = 'vector') AS tv,
         count(*) FILTER (w = 'join')   AS tj,
         count(*) FILTER (w = 'stream') AS ts
  FROM tk WHERE w IN ('vector', 'join', 'stream') GROUP BY doc_id
),
df AS (
  SELECT count(DISTINCT doc_id) FILTER (w = 'vector') AS dv,
         count(DISTINCT doc_id) FILTER (w = 'join')   AS dj,
         count(DISTINCT doc_id) FILTER (w = 'stream') AS ds
  FROM tk WHERE w IN ('vector', 'join', 'stream')
),
n AS (SELECT count(*) AS n_docs FROM documents),
na AS (SELECT avg(dl.dl) AS avgdl FROM dl),
sb AS (
  SELECT tf.doc_id,
         ln(1.0 + (n.n_docs - df.dv + 0.5) / (df.dv + 0.5))
           * ((tf.tv * 2.2) / (tf.tv + 1.2 * (0.25 + 0.75 * dl.dl / na.avgdl)))
       + ln(1.0 + (n.n_docs - df.dj + 0.5) / (df.dj + 0.5))
           * ((tf.tj * 2.2) / (tf.tj + 1.2 * (0.25 + 0.75 * dl.dl / na.avgdl)))
       + ln(1.0 + (n.n_docs - df.ds + 0.5) / (df.ds + 0.5))
           * ((tf.ts * 2.2) / (tf.ts + 1.2 * (0.25 + 0.75 * dl.dl / na.avgdl)))
           AS score
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id, df, n, na
),
st AS (
  SELECT tf.doc_id,
         tf.tv * ln((1.0 + n.n_docs) / (1.0 + df.dv))
       + tf.tj * ln((1.0 + n.n_docs) / (1.0 + df.dj))
       + tf.ts * ln((1.0 + n.n_docs) / (1.0 + df.ds)) AS score
  FROM tf, df, n
),
tb AS (SELECT doc_id FROM sb ORDER BY score DESC, doc_id ASC LIMIT 10),
tt AS (SELECT doc_id FROM st ORDER BY score DESC, doc_id ASC LIMIT 10),
ov AS (SELECT count(*)::BIGINT AS nc FROM tb JOIN tt USING (doc_id))
SELECT nc AS n_common_top10,
       round(nc::DOUBLE / (20 - nc), 6) AS jaccard_top10
FROM ov
"""


@query("bm25_tfidf_rank_overlap", oracle=_RANK_OVERLAP_ORACLE)
def bm25_tfidf_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-scorer agreement: Jaccard overlap of the top-10 result
    sets under BM25 (k1=1.2, b=0.75) and smoothed TF-IDF for the same
    fixed 3-term query — the eval primitive for comparing rankers
    (scorer A vs scorer B, sparse vs dense, before vs after a change)
    without human judgments. Both scorers reuse one term-frequency pass;
    each top-10 is a TakeOrderedAndProject; the overlap is a 10x10
    broadcast join.

    Scale: the tf/df/dl aggregates are the only corpus-sized work."""
    terms = ["vector", "join", "stream"]
    k1, b = 1.2, 0.75
    base = _doc_norm_tokens(spark, sf_dir)
    n_docs = base.count()
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    toks = base.select("doc_id", F.explode("toks").alias("w")).filter(
        F.col("w").isin(terms)
    )
    tf = toks.groupBy("doc_id").agg(
        *[F.sum((F.col("w") == t).cast("long")).alias(f"tf_{t}") for t in terms]
    )
    dfreq = toks.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("w") == t, F.col("doc_id"))).alias(f"df_{t}")
            for t in terms
        ]
    )
    stats = dl.groupBy().agg(F.avg("dl").alias("avgdl"))

    def bm25_term(t: str) -> F.Column:
        idf = F.log(
            1.0 + (F.lit(n_docs) - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        tfn = (F.col(f"tf_{t}") * (k1 + 1.0)) / (
            F.col(f"tf_{t}") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
        )
        return idf * tfn

    def tfidf_term(t: str) -> F.Column:
        return F.col(f"tf_{t}") * F.log((1.0 + n_docs) / (1.0 + F.col(f"df_{t}")))

    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (bm25_term(terms[0]) + bm25_term(terms[1]) + bm25_term(terms[2])).alias(
                "sb"
            ),
            (
                tfidf_term(terms[0]) + tfidf_term(terms[1]) + tfidf_term(terms[2])
            ).alias("st"),
        )
    )
    tb = scored.orderBy(F.desc("sb"), F.asc("doc_id")).limit(10).select("doc_id")
    tt = scored.orderBy(F.desc("st"), F.asc("doc_id")).limit(10).select("doc_id")
    ov = tb.join(tt, "doc_id").agg(F.count(F.lit(1)).alias("nc"))
    return ov.select(
        F.col("nc").alias("n_common_top10"),
        F.round(F.col("nc").cast("double") / (20 - F.col("nc")), 6).alias(
            "jaccard_top10"
        ),
    )


@query(
    "int8_quantization_cosine_audit",
    oracle="""
WITH qz AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
             x -> round(CAST(x AS DOUBLE) * 127
                        / list_aggregate(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE))), 'max'))) AS q
  FROM embeddings
),
qv AS (SELECT embedding AS qe, q AS qq FROM qz WHERE vec_id = 0),
s AS (
  SELECT z.vec_id,
         list_sum(list_transform(list_zip(z.embedding, qv.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(z.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(qv.qe,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_e,
         list_sum(list_transform(list_zip(z.q, qv.qq), p -> p[1] * p[2]))
           / (sqrt(list_sum(list_transform(z.q, x -> x * x)))
              * sqrt(list_sum(list_transform(qv.qq, x -> x * x)))) AS cos_q
  FROM qz z, qv WHERE z.vec_id <> 0
),
te AS (SELECT vec_id FROM s ORDER BY round(cos_e, 6) DESC, vec_id LIMIT 10),
tq AS (SELECT vec_id FROM s ORDER BY round(cos_q, 6) DESC, vec_id LIMIT 10),
ov AS (SELECT count(*)::BIGINT AS overlap FROM te JOIN tq USING (vec_id))
SELECT count(*)::BIGINT AS n_vectors,
       ov.overlap AS top10_overlap,
       round(avg(abs(s.cos_e - s.cos_q)), 6) AS mean_abs_cos_err,
       round(max(abs(s.cos_e - s.cos_q)), 6) AS max_abs_cos_err
FROM s, ov GROUP BY ov.overlap
""",
)
def int8_quantization_cosine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization audit — the compression
    step every vector store applies before ANN at scale (4x memory cut,
    SIMD integer dots): q_i = round(127 x_i / max|x|), cosine computed
    on the quantized grid, then (a) mean/max cosine error vs exact
    float over the whole collection and (b) top-10 retrieval overlap
    for the vec_id=0 probe. Answers "what recall do I buy back by NOT
    quantizing?" with exact numbers.

    Exactness: the quantization grid is integer-valued (|q| <= 127, so
    every product/sum is exact in doubles), the per-element rounding is
    the engines' shared half-away-from-zero round, and both top-10 cuts
    rank on the ROUNDED cosine with a vec_id tiebreak.

    Scale: one broadcast of the probe row against the collection — a
    map-only pass (the same shape as brute-force scoring); the top-10s
    are TakeOrdered. No shuffle but the two 10-row limits."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(
        F.transform("embedding", lambda y: F.abs(y.cast("double")))
    )
    qz = emb.select(
        "vec_id",
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 127 / scale),
        ).alias("q"),
    )
    qv = qz.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("q").alias("qq")
    )
    iqdot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    inorm = lambda a: F.sqrt(  # noqa: E731
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # r11b (measured): the four interpreted dim-sized folds per row ran
    # in the scan's single input split (two 0.6 s one-task stages), and
    # the scored frame feeds THREE plans (both top-10 cuts + the error
    # fold) — each re-evaluating the folds. Hash-repartition before the
    # folds to spread the compute, and lazily pin the 2-column scored
    # frame so it is computed once (guide §1.2/§2.6).
    from ..plans.materialize import pinned_lru

    n_par = spark.sparkContext.defaultParallelism
    s = (
        qz.filter(F.col("vec_id") != 0)
        .repartition(n_par, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (
                S.dot(F.col("embedding"), F.col("qe"))
                / (S.l2_norm(F.col("embedding")) * S.l2_norm(F.col("qe")))
            ).alias("cos_e"),
            (
                iqdot(F.col("q"), F.col("qq"))
                / (inorm(F.col("q")) * inorm(F.col("qq")))
            ).alias("cos_q"),
        )
    )
    s = pinned_lru(s, "int8_audit_scores", eager=False)
    te = (
        s.select("vec_id", F.round("cos_e", 6).alias("r"))
        .orderBy(F.desc("r"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    tq = (
        s.select("vec_id", F.round("cos_q", 6).alias("r"))
        .orderBy(F.desc("r"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ov = te.join(tq, "vec_id").agg(F.count(F.lit(1)).alias("overlap"))
    err = F.abs(F.col("cos_e") - F.col("cos_q"))
    return s.crossJoin(F.broadcast(ov)).groupBy("overlap").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(err), 6).alias("mean_abs_cos_err"),
        F.round(F.max(err), 6).alias("max_abs_cos_err"),
    ).select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("overlap").cast("long").alias("top10_overlap"),
        "mean_abs_cos_err",
        "max_abs_cos_err",
    )


@query(
    "boilerplate_shingle_dictionary",
    oracle=r"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM nrm),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(toks) - 2, 1)),
             i -> array_to_string(toks[i:i+3], ' ')))) AS g
  FROM tk WHERE len(toks) >= 4
),
df AS (SELECT g, count(*)::BIGINT AS doc_freq FROM sh GROUP BY g),
nd AS (SELECT count(*)::DOUBLE AS n FROM nrm)
SELECT g AS shingle, doc_freq,
       round(doc_freq / nd.n, 6) AS doc_share
FROM df, nd
WHERE doc_freq >= 3
ORDER BY doc_freq DESC, shingle LIMIT 20
""",
)
def boilerplate_shingle_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate dictionary: the word 4-gram shingles that recur
    across the MOST distinct documents (doc-frequency, not occurrence
    count — a shingle repeated inside one page is repetition, across
    pages it's template chrome). The removal list every web-corpus
    cleaner builds before near-dup ("cookie policy" beats any classifier
    at finding nav bars). Support floor 3, top-20 on (doc_freq desc,
    shingle).

    Scale: explode to per-doc DISTINCT shingles, one hash aggregate on
    the shingle key (map-side combine), TakeOrdered top-k — exactly the
    first-introduction plan shape of ``doc_novelty_by_source``."""
    tk = _doc_norm_tokens(spark, sf_dir).select("doc_id", "toks").filter(
        F.size("toks") >= 4
    )
    sh = tk.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                        F.element_at("toks", i + 2),
                        F.element_at("toks", i + 3),
                    ),
                )
            )
        ).alias("g"),
    ).distinct()
    df_ = sh.groupBy("g").agg(F.count(F.lit(1)).alias("doc_freq")).filter(
        F.col("doc_freq") >= 3
    )
    nd = _doc_norm_tokens(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    return (
        df_.crossJoin(F.broadcast(nd))
        .select(
            F.col("g").alias("shingle"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.round(F.col("doc_freq") / F.col("n"), 6).alias("doc_share"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


@query(
    "hard_negative_mining",
    oracle=r"""
WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (
  SELECT doc_id, list_distinct(string_split(t, ' ')) AS toks
  FROM nrm WHERE t <> ''
),
q AS (SELECT doc_id AS qid, toks AS qt FROM tk WHERE doc_id < 10),
c AS (SELECT doc_id AS cid, toks AS ct FROM tk WHERE doc_id >= 10),
sc AS (
  SELECT q.qid, c.cid,
         len(list_intersect(q.qt, c.ct))::DOUBLE
           / (len(q.qt) + len(c.ct) - len(list_intersect(q.qt, c.ct)))::DOUBLE
           AS jac
  FROM q, c
),
band AS (
  SELECT qid, cid, round(jac, 6) AS jaccard
  FROM sc WHERE jac >= 0.1 AND jac < 0.5
),
rk AS (
  SELECT qid, cid, jaccard,
         row_number() OVER (PARTITION BY qid
                            ORDER BY jaccard DESC, cid ASC) AS rn
  FROM band
)
SELECT qid AS query_doc, cid AS negative_doc, jaccard, rn AS rank
FROM rk WHERE rn <= 3 ORDER BY query_doc, rank
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for each
    query document (the small eval side, doc_id < 10), the top-3
    corpus documents by DISTINCT-token Jaccard restricted to the
    [0.1, 0.5) band — similar enough to be confusable, dissimilar
    enough to be true negatives (the standard band that excludes
    near-dups, which would be FALSE negatives). Each (query, negative,
    score, rank) row is a training triple ingredient.

    Scale: the query side broadcasts (eval sets are thousands of docs);
    scoring is a broadcast nested-loop over the corpus — a map-only
    pass, no corpus shuffle; the per-query top-3 window partitions on
    query_doc (parallel, bounded state). At larger eval sides, swap
    the broadcast for the shared-token equi-join prefilter that
    ``prefix_filter_jaccard_pairs`` demonstrates.

    Exactness: token sets and intersections are exact; one division;
    banding and ranking on the rounded score with a cid tiebreak."""
    tk = _doc_norm_tokens(spark, sf_dir).select(
        "doc_id", F.array_distinct("toks").alias("toks")
    ).filter(F.size("toks") >= 1)
    q = tk.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("qid"), F.col("toks").alias("qt")
    )
    c = tk.filter(F.col("doc_id") >= 10).select(
        F.col("doc_id").alias("cid"), F.col("toks").alias("ct")
    )
    inter = F.size(F.array_intersect(F.col("qt"), F.col("ct"))).cast("double")
    jac = inter / (
        F.size("qt").cast("double") + F.size("ct").cast("double") - inter
    )
    sc = c.crossJoin(F.broadcast(q)).select("qid", "cid", jac.alias("_j"))
    band = sc.filter((F.col("_j") >= 0.1) & (F.col("_j") < 0.5)).select(
        "qid", "cid", F.round("_j", 6).alias("jaccard")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("jaccard"), F.asc("cid"))
    return (
        band.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("qid").alias("query_doc"),
            F.col("cid").alias("negative_doc"),
            "jaccard",
            F.col("rn").cast("long").alias("rank"),
        )
        .orderBy("query_doc", "rank")
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=r"""
WITH d AS (
  SELECT lang,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS n_bpe
  FROM documents
)
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(n_ws)::BIGINT AS whitespace_tokens,
       sum(n_bpe)::BIGINT AS bpeish_tokens,
       round(sum(n_bpe)::DOUBLE / sum(n_ws)::DOUBLE, 6) AS fertility,
       round(sum(n_chars)::DOUBLE / sum(n_bpe)::DOUBLE, 6)
         AS chars_per_token
FROM d GROUP BY lang ORDER BY lang
""",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language: sub-word-ish tokens per
    whitespace token (fertility — the cost multiplier a BPE-style
    tokenizer imposes on a language) and characters per token (the
    compression each language gets from the vocabulary). THE budgeting
    table for multilingual training mixes: languages with fertility ≫ 1
    pay more context window per word, which feeds directly into the
    ``lang_sampling_temperature`` rebalance.

    Scale: one narrow map-side pass (two regex counts per row) + a
    |langs|-row rollup. Exactness: counts are exact integers from the
    engines' shared regex semantics; two single divisions."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(TX.tokens("text")).alias("n_ws"),
        TX.bpe_ish_token_count("text").alias("n_bpe"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("whitespace_tokens"),
            F.sum("n_bpe").alias("bpeish_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_ws").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("whitespace_tokens").cast("long").alias("whitespace_tokens"),
            F.col("bpeish_tokens").cast("long").alias("bpeish_tokens"),
            "fertility",
            "chars_per_token",
        )
        .orderBy("lang")
    )


@query(
    "ann_knn_label_vote",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 5000
),
r AS (
  SELECT vec_id, embedding, label
  FROM embeddings WHERE NOT (vec_id % 25 = 0 AND vec_id < 5000)
),
s AS (
  SELECT q.qid, q.qlabel, r.vec_id, r.label,
         list_sum(list_transform(list_zip(r.embedding, q.qe),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(r.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qe,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
  FROM r, q
),
top3 AS (
  SELECT qid, qlabel, label FROM (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM s) WHERE rn <= 3
),
votes AS (
  SELECT qid, qlabel, label, count(*) AS c
  FROM top3 GROUP BY qid, qlabel, label
),
winner AS (
  SELECT qid, qlabel, label AS voted FROM (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, label ASC) AS vr
    FROM votes) WHERE vr = 1
)
SELECT qlabel AS label,
       count(*) AS n_queries,
       sum(CASE WHEN voted = qlabel THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       round(sum(CASE WHEN voted = qlabel THEN 1 ELSE 0 END) / count(*), 4)
         AS accuracy
FROM winner GROUP BY qlabel ORDER BY qlabel
""",
)
def ann_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFICATION over the embedding column: every 25th vector
    under id 5000 is held out as a query (a FIXED-SIZE batch — the cap
    keeps the gate linear in corpus size: without it the r6 10x-data
    probe measured 110x, with it the scored-pair count grows only with
    the reference side), its 3 nearest reference neighbors by exact
    cosine vote on its label (majority; ties -> smaller label; neighbor
    ties -> higher cosine then smaller vec_id), and per-true-label
    accuracy is hash-checked against the DuckDB list-arithmetic replica.
    The label-propagation primitive of a training-data pipeline
    (auto-labeling / label-noise audit by neighborhood agreement).

    This is the exact ground-truth path: the bounded query batch is
    BROADCAST against one scan of the references (same shape as
    exact_cosine_pairs_blocked); at 100 TB swap the scoring stage for
    the IVF/SRP kNN-join (ivf_knn_join / srp_knn_join) and keep the
    vote/accuracy tail unchanged — the adaptive gates pin that swap.

    Exactness: both engines fold the same float32 parquet values to
    doubles in array order (green precedent: cosine_topk_vs_query);
    ranks, votes, and counts are exact integers; one rounded division."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    is_q = (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 5000)
    q = emb.filter(is_q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    # the scoring expression is the per-row cost; the parquet arrives in
    # a handful of row-group splits, so spread refs across the executor
    # slots before fanning out x|Q| (r6 probe: 62s -> ~8s at sf1.0)
    r = emb.filter(~is_q).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    scored = r.join(F.broadcast(q)).select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        S.cosine(F.col("embedding"), F.col("qe")).alias("cosine"),
    )
    top3 = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("cosine"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("qid", "qlabel", "label")
    )
    votes = top3.groupBy("qid", "qlabel", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    winner = (
        votes.withColumn(
            "vr",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("label"))
            ),
        )
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("label").alias("voted"))
    )
    correct = F.sum((F.col("voted") == F.col("qlabel")).cast("long"))
    return (
        winner.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            correct.alias("n_correct"),
            F.round(correct / F.count(F.lit(1)), 4).alias("accuracy"),
        )
        .orderBy("label")
    )


@query(
    "rrf_fused_retrieval_top10",
    oracle=r"""
WITH tk AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(string_split(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id,
         count(*) FILTER (w = 'vector') AS tv,
         count(*) FILTER (w = 'join')   AS tj,
         count(*) FILTER (w = 'stream') AS ts
  FROM tk WHERE w IN ('vector', 'join', 'stream') GROUP BY doc_id
),
df AS (
  SELECT count(DISTINCT doc_id) FILTER (w = 'vector') AS dv,
         count(DISTINCT doc_id) FILTER (w = 'join')   AS dj,
         count(DISTINCT doc_id) FILTER (w = 'stream') AS ds
  FROM tk WHERE w IN ('vector', 'join', 'stream')
),
n AS (SELECT count(*) AS n_docs FROM documents),
st AS (SELECT avg(dl.dl) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id,
         tf.tv * ln((1.0 + n.n_docs) / (1.0 + df.dv))
           + tf.tj * ln((1.0 + n.n_docs) / (1.0 + df.dj))
           + tf.ts * ln((1.0 + n.n_docs) / (1.0 + df.ds)) AS s_tfidf,
         ln(1.0 + (n.n_docs - df.dv + 0.5) / (df.dv + 0.5))
           * ((tf.tv * 2.2) / (tf.tv + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
         + ln(1.0 + (n.n_docs - df.dj + 0.5) / (df.dj + 0.5))
           * ((tf.tj * 2.2) / (tf.tj + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
         + ln(1.0 + (n.n_docs - df.ds + 0.5) / (df.ds + 0.5))
           * ((tf.ts * 2.2) / (tf.ts + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
           AS s_bm25,
         tf.tv + tf.tj + tf.ts AS s_cnt
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id, df, n, st
),
rt AS (
  SELECT doc_id, row_number() OVER (ORDER BY s_tfidf DESC, doc_id) AS r
  FROM scored QUALIFY r <= 20
),
rb AS (
  SELECT doc_id, row_number() OVER (ORDER BY s_bm25 DESC, doc_id) AS r
  FROM scored QUALIFY r <= 20
),
rc AS (
  SELECT doc_id, row_number() OVER (ORDER BY s_cnt DESC, doc_id) AS r
  FROM scored QUALIFY r <= 20
),
ids AS (
  SELECT doc_id FROM rt UNION SELECT doc_id FROM rb UNION SELECT doc_id FROM rc
),
fused AS (
  SELECT ids.doc_id,
         coalesce(1.0 / (60 + rt.r), 0.0)
           + coalesce(1.0 / (60 + rb.r), 0.0)
           + coalesce(1.0 / (60 + rc.r), 0.0) AS rrf
  FROM ids
  LEFT JOIN rt ON ids.doc_id = rt.doc_id
  LEFT JOIN rb ON ids.doc_id = rb.doc_id
  LEFT JOIN rc ON ids.doc_id = rc.doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf_score
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
""",
)
def rrf_fused_retrieval_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (Cormack et al. 2009) of three retrievers
    over the same fixed 3-term query — smoothed TF-IDF, BM25 (k1=1.2,
    b=0.75), and raw term count — each truncated to its top-20 list;
    fused score = sum over lists of 1/(60 + rank). The standard way a
    retrieval pipeline combines sparse/dense/heuristic rankers without
    score calibration.

    Rank assignment avoids a partitionless global window: each top-20
    list is a TakeOrderedAndProject, and the rank WITHIN the 20-row
    broadcast frame is 1 + count(strictly-better rows) via a broadcast
    self-join — exactly row_number under the (score DESC, doc_id) total
    order the oracle uses. Fusion is a 3-way outer join of k-row frames;
    the fused sum is three rationals added in literal order, so the
    double is engine-identical.

    Scale: the only corpus-sized work is the shared tf/df/dl pass (one
    explode + hash aggregates); everything downstream is k-row."""
    terms = ["vector", "join", "stream"]
    k1, b = 1.2, 0.75
    base = _doc_norm_tokens(spark, sf_dir)
    n_docs = base.count()
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    toks = base.select("doc_id", F.explode("toks").alias("w")).filter(
        F.col("w").isin(terms)
    )
    tf = toks.groupBy("doc_id").agg(
        *[F.sum((F.col("w") == t).cast("long")).alias(f"tf_{t}") for t in terms]
    )
    dfreq = toks.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("w") == t, F.col("doc_id"))).alias(f"df_{t}")
            for t in terms
        ]
    )
    stats = dl.groupBy().agg(F.avg("dl").alias("avgdl"))

    def tfidf_term(t: str) -> F.Column:
        return F.col(f"tf_{t}") * F.log((1.0 + n_docs) / (1.0 + F.col(f"df_{t}")))

    def bm25_term(t: str) -> F.Column:
        idf = F.log(
            1.0 + (F.lit(n_docs) - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        tfn = (F.col(f"tf_{t}") * (k1 + 1.0)) / (
            F.col(f"tf_{t}") + k1 * ((1.0 - b) + b * F.col("dl") / F.col("avgdl"))
        )
        return idf * tfn

    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(dfreq))
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                tfidf_term(terms[0]) + tfidf_term(terms[1]) + tfidf_term(terms[2])
            ).alias("s_tfidf"),
            (bm25_term(terms[0]) + bm25_term(terms[1]) + bm25_term(terms[2])).alias(
                "s_bm25"
            ),
            (F.col("tf_vector") + F.col("tf_join") + F.col("tf_stream")).alias(
                "s_cnt"
            ),
        )
    )
    # pooled (r11): each ranked_top20 below evaluates `scored` twice
    # (the top-20 limit AND the broadcast rank frame built from it), ×3
    # retrievers = six evaluations of the corpus-sized tf/df/dl passes
    # before (event-log profile: 42 jobs / 31 s of job time for one warm
    # run; guide §1.2). `scored` is only docs containing a query term —
    # a tiny frame keyed on the immutable (corpus, fixed query), so it
    # memoizes like the signature tables; downstream is k-row work.
    scored = memo(spark, ("rrf_scored", sf_dir), lambda: scored)

    def ranked_top20(score: str, out: str):
        top = (
            scored.orderBy(F.desc(score), F.asc("doc_id"))
            .limit(20)
            .select("doc_id", F.col(score).alias("s"))
        )
        other = F.broadcast(
            top.select(F.col("doc_id").alias("_od"), F.col("s").alias("_os"))
        )
        better = (F.col("_os") > F.col("s")) | (
            (F.col("_os") == F.col("s")) & (F.col("_od") < F.col("doc_id"))
        )
        return (
            top.join(other, better, "left")
            .groupBy("doc_id")
            .agg((F.count("_od") + 1).alias(out))
        )

    rt = ranked_top20("s_tfidf", "r_t")
    rb = ranked_top20("s_bm25", "r_b")
    rc = ranked_top20("s_cnt", "r_c")
    fused = (
        rt.join(rb, "doc_id", "full")
        .join(rc, "doc_id", "full")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (60 + F.col("r_t")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_b")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_c")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("rrf", 6).alias("rrf_score"))
    )


# --------------------------------------------------------------------------
# Round-8 additions (session 2): semantic dedup prune accounting.
# --------------------------------------------------------------------------


@query(
    "semantic_dedup_prune_stats",
    oracle=_DUCK_HASHED_FEATURES.replace("WITH", "WITH RECURSIVE", 1)
    + r"""
, pr AS (SELECT a, b FROM p WHERE c >= 0.85),
e2 AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
nodes AS (SELECT DISTINCT a AS node FROM e2),
conn(x, y) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT cc.x, e.b FROM conn cc JOIN e2 e ON cc.y = e.a
),
comp AS (SELECT x AS node, min(y) AS component FROM conn GROUP BY x),
tok AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS nt
  FROM documents
),
pruned AS (SELECT node FROM comp WHERE node <> component)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(DISTINCT component) FROM comp)::BIGINT AS n_dup_clusters,
       (SELECT count(*) FROM pruned)::BIGINT AS n_pruned,
       (SELECT sum(nt) FROM tok)::BIGINT AS tokens_total,
       coalesce((SELECT sum(nt) FROM tok JOIN pruned ON tok.doc_id = pruned.node),
                0)::BIGINT AS tokens_pruned,
       round(1.0 - coalesce((SELECT sum(nt) FROM tok
                             JOIN pruned ON tok.doc_id = pruned.node), 0)::DOUBLE
                 / (SELECT sum(nt) FROM tok), 6) AS kept_token_share
""",
)
def semantic_dedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic prune ACCOUNTING (Abbas et al. 2023): the
    exact ≥0.85-cosine pair graph over hashed-shingle document embeddings
    is clustered (connected components) and every cluster keeps ONE
    representative (min doc id, SemDeDup's keep-one-per-semantic-cluster
    rule); the query reports what the prune costs the corpus — clusters,
    docs dropped, and the TOKEN MASS removed vs kept. This is the
    budget sheet a curation run produces before committing a semantic
    dedup pass: "n_pruned docs / tokens_pruned tokens (1−kept_token_share
    of the budget) are semantic duplicates".

    The pair graph reuses the pooled blocked-BLAS exact join
    (``_blocked_pairs_085`` — same pinned table the recall gates share);
    the oracle recomputes features, all-pairs cosine, a recursive-CTE
    transitive closure, and the token ledger from scratch, so the
    component labels AND the keep-one accounting are cross-engine exact.

    Scale: component labels exist only for docs inside a near-dup
    cluster (≪ corpus); the token ledger joins that small node set
    against doc-grain token counts (broadcast), and the corpus-wide
    reduction is one grouped pass. At 100 TB the pair graph comes from
    the banded/blocked candidate path, never all-pairs — the prune
    accounting itself stays node-grain."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _blocked_pairs_085(spark, sf_dir).select("a", "b")
    comp = D.connected_components(pairs)
    tok = docs.select(
        F.col("doc_id").alias("node"),
        TX.token_count("text").cast("long").alias("nt"),
    )
    cl = comp.agg(
        F.coalesce(F.count_distinct("component"), F.lit(0)).alias("n_dup_clusters"),
        F.coalesce(
            F.sum((F.col("node") != F.col("component")).cast("long")), F.lit(0)
        ).alias("n_pruned"),
    )
    pruned_tok = (
        comp.filter(F.col("node") != F.col("component"))
        .join(tok, "node")
        .agg(F.coalesce(F.sum("nt"), F.lit(0)).alias("tokens_pruned"))
    )
    tot = tok.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("tokens_total")
    )
    return (
        tot.crossJoin(F.broadcast(cl))
        .crossJoin(F.broadcast(pruned_tok))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_clusters").cast("long").alias("n_dup_clusters"),
            F.col("n_pruned").cast("long").alias("n_pruned"),
            F.col("tokens_total").cast("long").alias("tokens_total"),
            F.col("tokens_pruned").cast("long").alias("tokens_pruned"),
            F.round(
                F.lit(1.0)
                - F.col("tokens_pruned").cast("double")
                / F.col("tokens_total").cast("double"),
                6,
            ).alias("kept_token_share"),
        )
    )


@query(
    "exact_substring_window_dedup",
    oracle=r"""
WITH n AS (
  SELECT doc_id, source, trim(regexp_replace(regexp_replace(lower(text),
         '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')) AS t
  FROM documents
),
tk AS (SELECT doc_id, source, string_split(t, ' ') AS toks FROM n WHERE t <> ''),
w AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(toks) // 16 + 1),
                i -> array_to_string(toks[(i-1)*16+1:(i-1)*16+16], ' '))) AS win
  FROM tk WHERE len(toks) >= 16
),
h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(win), 1, 15))::BIGINT AS hk
  FROM w
),
g AS (SELECT hk, count(DISTINCT doc_id) AS nd FROM h GROUP BY hk),
per AS (
  SELECT h.doc_id, h.source,
         count(*) AS nw,
         sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS dw
  FROM h JOIN g USING (hk) GROUP BY h.doc_id, h.source
),
alldocs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT a.source,
       a.n_docs::BIGINT AS n_docs,
       count(per.doc_id)::BIGINT AS docs_with_windows,
       coalesce(sum(per.nw), 0)::BIGINT AS windows_total,
       coalesce(sum(per.dw), 0)::BIGINT AS dup_windows,
       round(coalesce(avg(per.dw::DOUBLE / per.nw), 0.0), 6) AS mean_dup_share,
       coalesce(sum(CASE WHEN 2 * per.dw >= per.nw THEN 1 ELSE 0 END), 0)::BIGINT
         AS docs_majority_dup
FROM alldocs a LEFT JOIN per ON per.source = a.source
GROUP BY a.source, a.n_docs
ORDER BY a.source
""",
)
def exact_substring_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication accounting at fixed token-window
    grain — the distributable form of Lee et al. 2022's exact-substring
    dedup (their suffix array is a single-machine structure; windowed
    hashing at a fixed stride is what production curation pipelines run
    at corpus scale, e.g. paragraph-grain dedup in open-data recipes).
    Each doc's normalized token stream is cut into NON-OVERLAPPING
    16-token windows; a window instance is duplicated when its hash
    occurs in >= 2 DISTINCT documents. Per source: docs with >= 1 full
    window, window/duplicate-instance totals, mean per-doc duplicated
    share, and docs whose majority of windows are duplicated
    (2*dw >= nw — integer comparison, no float threshold).

    Mechanism-exact: normalization replays the shared SQL form, window
    keys ride the portable 60-bit md5 hash, and the majority test is
    integer arithmetic — every count is engine-portable.

    Scale: one narrow projection per doc (windows ~ tokens/16), a
    window-vocab-grain groupBy for occurrence counts, one shuffle join
    back at window grain, then doc- and source-grain aggregates — the
    same grain ladder as the MinHash family, with NO candidate pair
    stage at all (instance accounting, not pair recovery). The pooled
    tokenize prefix (``_doc_norm_tokens``) is shared with every other
    text consumer."""
    from ..llm import text as TX

    W = 16
    base = _doc_norm_tokens(spark, sf_dir)
    wins = base.filter(F.size("toks") >= W).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.size("toks") / W).cast("int")),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("toks"), (i - 1) * W + 1, W)
                ),
            )
        ).alias("win"),
    )
    h = wins.select(
        "doc_id", "source", TX.portable_hash60(F.col("win")).alias("hk")
    )
    g = h.groupBy("hk").agg(F.count_distinct("doc_id").alias("nd"))
    per = (
        h.join(g, "hk")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("nw"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("dw"),
        )
    )
    alldocs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        alldocs.join(per, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.count("doc_id").alias("docs_with_windows"),
            F.coalesce(F.sum("nw"), F.lit(0)).cast("long").alias("windows_total"),
            F.coalesce(F.sum("dw"), F.lit(0)).cast("long").alias("dup_windows"),
            F.round(
                F.coalesce(
                    F.avg(F.col("dw").cast("double") / F.col("nw")), F.lit(0.0)
                ),
                6,
            ).alias("mean_dup_share"),
            F.coalesce(
                F.sum(F.when(2 * F.col("dw") >= F.col("nw"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("docs_majority_dup"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("docs_with_windows").cast("long").alias("docs_with_windows"),
            "windows_total",
            "dup_windows",
            "mean_dup_share",
            "docs_majority_dup",
        )
        .orderBy("source")
    )

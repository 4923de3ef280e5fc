"""Corpus-management queries for large-scale training-data pipelines:
temperature-based language mixture weights, vocabulary/Zipf statistics,
incremental (delta-vs-base) dedup accounting, and PII pseudonymization
accounting. All oracle-backed: every float expression is written with
the DuckDB oracle's exact operand order, and every keep/split decision
uses the engine-portable md5 row hash so the decided SET replicates.

Reference parity: the reference repo has no corpus-management layer
(it is a 205-row car-price study); these are the driver-mandated
training-data extensions (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import text as TX
from ..plans.materialize import local_frame
from ..registry import query
from ..sources.readers import load_table

# Shared token normalization (identical to the BM25/TF-IDF chain):
# lowercase → non-[a-z0-9_] to space → collapse runs → trim → split.
_DUCK_TOKENS = r"""string_split(trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z0-9_\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')"""


@query(
    "lang_sampling_temperature",
    oracle=r"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
t AS (SELECT lang, n, sum(n) OVER () AS total FROM c),
w AS (SELECT lang, n, total, power(n / total, 0.3) AS wt FROM t)
SELECT lang,
       n AS n_docs,
       round(n / total, 6) AS p_raw,
       round(wt / sum(wt) OVER (), 6) AS p_sampled,
       round((wt / sum(wt) OVER ()) / (n / total), 6) AS boost
FROM w ORDER BY lang
""",
)
def lang_sampling_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language sampling weights (the mC4/multilingual
    rebalance: p_l^alpha renormalized, alpha=0.3), reporting the raw and
    sampled mixture plus the low-resource boost factor. Scale shape: one
    hash aggregate collapses the corpus to |langs| rows; the windows run
    on that k-row frame, never on the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # whole-frame totals via broadcast scalar joins (1-row aggregates),
    # not an empty-partition window — WindowExec with no partition spec
    # serializes its input to one task and warns on every run
    tot = c.agg(F.sum("n").alias("total"))
    t = c.crossJoin(F.broadcast(tot))
    wt = F.pow(F.col("n") / F.col("total"), F.lit(0.3))
    w = t.select("lang", "n", "total", wt.alias("wt"))
    swt = w.agg(F.sum("wt").alias("_sum_wt"))
    sum_wt = F.col("_sum_wt")
    w = w.crossJoin(F.broadcast(swt))
    return w.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.round(F.col("n") / F.col("total"), 6).alias("p_raw"),
        F.round(F.col("wt") / sum_wt, 6).alias("p_sampled"),
        F.round(
            (F.col("wt") / sum_wt) / (F.col("n") / F.col("total")), 6
        ).alias("boost"),
    ).orderBy("lang")


@query(
    "vocab_zipf_top20",
    oracle=r"""
WITH tk AS (
  SELECT unnest(""" + _DUCK_TOKENS + r""") AS w FROM documents
),
c AS (SELECT w, count(*) AS n_occurrences FROM tk WHERE w <> '' GROUP BY w),
tot AS (SELECT sum(n_occurrences) AS total FROM c)
SELECT row_number() OVER (ORDER BY n_occurrences DESC, w ASC) AS rank,
       w AS token,
       n_occurrences,
       round(n_occurrences / tot.total, 6) AS freq_share
FROM c, tot
ORDER BY rank LIMIT 20
""",
)
def vocab_zipf_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 tokens by occurrence count
    with their Zipf rank and share of all token occurrences. Scale
    shape: explode → hash-aggregate to vocab size (map-side partials do
    the heavy lifting), total via a 1-row broadcast aggregate — the
    rank triangle-join runs only on the top-k candidate frame, never
    the corpus."""
    from .llmdata import _doc_norm_tokens

    docs = _doc_norm_tokens(spark, sf_dir)
    toks = docs.select(F.explode("toks").alias("w")).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_occurrences"))
    total = counts.groupBy().agg(F.sum("n_occurrences").alias("total"))
    # top-(20+ties) candidate cut FIRST (TakeOrderedAndProject — per-
    # partition heaps, never a global sort), then rank the 64-row
    # candidate frame with a triangle broadcast self-join: rank = 1 +
    # |rows strictly ahead in the total order| — exact integers, no
    # window, so nothing can run as a partitionless WindowExec.
    cand = counts.orderBy(F.desc("n_occurrences"), F.asc("w")).limit(64)
    ahead = cand.select(
        F.col("w").alias("_bw"), F.col("n_occurrences").alias("_bn")
    )
    top = (
        cand.join(
            F.broadcast(ahead),
            (F.col("_bn") > F.col("n_occurrences"))
            | ((F.col("_bn") == F.col("n_occurrences")) & (F.col("_bw") < F.col("w"))),
            "left",
        )
        .groupBy("w", "n_occurrences")
        .agg((F.count("_bw") + F.lit(1)).cast("long").alias("rank"))
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "rank",
            F.col("w").alias("token"),
            "n_occurrences",
            F.round(F.col("n_occurrences") / F.col("total"), 6).alias(
                "freq_share"
            ),
        )
        .orderBy("rank")
        .limit(20)
    )


@query(
    "incremental_dedup_accounting",
    oracle=r"""
WITH d AS (
  SELECT doc_id, md5(text) AS digest,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 < 7
           AS in_base
  FROM documents
),
b AS (SELECT DISTINCT digest FROM d WHERE in_base),
delta AS (SELECT doc_id, digest FROM d WHERE NOT in_base),
flag AS (
  SELECT delta.doc_id, delta.digest, b.digest IS NOT NULL AS known
  FROM delta LEFT JOIN b ON delta.digest = b.digest
)
SELECT (SELECT count(*) FROM d WHERE in_base) AS n_base,
       count(*) AS n_delta,
       count(*) FILTER (known) AS already_in_base,
       count(DISTINCT digest) FILTER (NOT known) AS new_unique,
       count(*) FILTER (NOT known)
         - count(DISTINCT digest) FILTER (NOT known) AS delta_internal_dups
FROM flag
""",
)
def incremental_dedup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: split the corpus into an existing BASE
    (70%, by the portable row hash — standing in for yesterday's corpus)
    and a DELTA batch, then account for the delta against the base by
    exact content digest: rows already present in the base, genuinely
    new uniques, and within-batch duplicates. This is the daily-crawl
    shape: the base is only touched as a digest set (shuffle hash join
    on digest — never re-shingled, never re-scanned per delta row), and
    the split decision is a narrow projection."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("digest"),
        (TX.portable_hash60(F.col("doc_id").cast("string")) % 10 < 7).alias(
            "in_base"
        ),
    )
    base = d.filter("in_base").select("digest").distinct()
    delta = d.filter(~F.col("in_base")).select("doc_id", "digest")
    flag = delta.join(
        base.withColumn("known", F.lit(True)), "digest", "left"
    ).select("digest", F.coalesce("known", F.lit(False)).alias("known"))
    n_base = d.filter("in_base").groupBy().agg(
        F.count(F.lit(1)).alias("n_base")
    )
    acc = flag.groupBy().agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.sum(F.col("known").cast("long")).alias("already_in_base"),
        F.count_distinct(
            F.when(~F.col("known"), F.col("digest"))
        ).alias("new_unique"),
        (
            F.sum((~F.col("known")).cast("long"))
            - F.count_distinct(F.when(~F.col("known"), F.col("digest")))
        ).alias("delta_internal_dups"),
    )
    return F.broadcast(n_base).crossJoin(acc).select(
        "n_base", "n_delta", "already_in_base", "new_unique",
        "delta_internal_dups",
    )


@query(
    "pii_pseudonymize_customers",
    oracle=r"""
WITH p AS (
  SELECT c_mktsegment,
         substr(sha256(c_custkey::VARCHAR || '|' || c_name), 1, 16)
           AS pseudonym
  FROM customer
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       count(DISTINCT pseudonym) AS n_pseudonyms,
       min(pseudonym) AS min_pseudonym,
       max(pseudonym) AS max_pseudonym
FROM p GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def pii_pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization accounting: replace customer identity with a
    keyed deterministic sha256 pseudonym (key = custkey|name — the
    salt-with-a-secret variant is the same expression with a key
    column) and prove the mapping is collision-free and deterministic
    per segment (n_pseudonyms = n_customers; min/max pin the exact
    mapping for the hash check). The pattern-based scrubber for free
    text is ``llm.text.scrub_pii`` (unit-tested on synthetic PII — the
    synthetic corpus is digit-free, so a corpus query would be
    vacuously zero). Scale shape: narrow projection + one hash agg."""
    cust = load_table(spark, sf_dir, "customer")
    pseudonym = F.substring(
        F.sha2(
            F.concat(
                F.col("c_custkey").cast("string"), F.lit("|"), F.col("c_name")
            ),
            256,
        ),
        1,
        16,
    )
    return (
        cust.select("c_mktsegment", pseudonym.alias("pseudonym"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.count_distinct("pseudonym").alias("n_pseudonyms"),
            F.min("pseudonym").alias("min_pseudonym"),
            F.max("pseudonym").alias("max_pseudonym"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "boilerplate_ngram_stats",
    oracle="""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id, source, array_to_string(t[i:i+5], ' ') AS g
          FROM toks,
               LATERAL unnest(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
freq AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
boiler AS (SELECT g FROM freq WHERE nd >= 2),
tot AS (SELECT source, count(*) AS total_grams FROM grams GROUP BY source),
hits AS (SELECT source, count(*) AS boiler_hits, count(DISTINCT g) AS n_boiler_grams
         FROM grams WHERE g IN (SELECT g FROM boiler) GROUP BY source)
SELECT tot.source,
       total_grams,
       coalesce(boiler_hits, 0) AS boiler_hits,
       coalesce(n_boiler_grams, 0) AS n_boiler_grams,
       round(coalesce(boiler_hits, 0) / total_grams, 6) AS boiler_ratio
FROM tot LEFT JOIN hits ON tot.source = hits.source
ORDER BY tot.source
""",
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (RefinedWeb/CCNet-style line
    dedup, adapted to the corpus's token-stream docs): a 6-token shingle
    occurring in >= 2 DISTINCT documents is "boilerplate"; report, per
    source, how much of its gram mass that boilerplate covers.

    Scale: the distinct-docs-per-gram count is two-phase — distinct
    (gram, doc_id) pairs first (map-side partial), then a count per
    gram — never a driver-side set; the boilerplate set flows back via
    a LEFT SEMI join on the gram hash (no row widening). One explode,
    two shuffles on the gram key, one on source. The gram explode is
    ~L× row growth, the reason this stays a single projected (doc_id,
    source, gram) triple and never carries text."""
    from ..plans.materialize import memo

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        # At least 8 partitions: with defaultParallelism alone (sf0.1, 4
        # cores, warm median of 3) this query went 1.82 -> 2.26 s.
        n_parts = max(spark.sparkContext.defaultParallelism, 8)
        return docs.repartition(n_parts, "doc_id").select(
            "doc_id",
            "source",
            F.explode(
                F.when(
                    F.size(toks) >= 6,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - F.lit(5)),
                        lambda i: F.array_join(F.slice(toks, i, 6), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )

    # materialize once, memoized per (session, corpus) — r11b: three
    # consumers (distinct-doc counts, totals, boilerplate hits) share
    # the exploded gram table within one call, and the table is
    # corpus-keyed immutable index state, so warm runs reuse it instead
    # of re-running the explode
    grams = memo(spark, ("boilerplate_grams", sf_dir, 6), build)
    boiler = (
        grams.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    tot = grams.groupBy("source").agg(F.count(F.lit(1)).alias("total_grams"))
    hits = (
        grams.join(boiler, "g", "left_semi")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("boiler_hits"),
            F.countDistinct("g").alias("n_boiler_grams"),
        )
    )
    return (
        tot.join(hits, "source", "left")
        .select(
            "source",
            "total_grams",
            F.coalesce("boiler_hits", F.lit(0)).alias("boiler_hits"),
            F.coalesce("n_boiler_grams", F.lit(0)).alias("n_boiler_grams"),
            F.round(
                F.coalesce("boiler_hits", F.lit(0)) / F.col("total_grams"), 6
            ).alias("boiler_ratio"),
        )
        .orderBy("source")
    )


@query(
    "doc_unigram_entropy",
    oracle=r"""
WITH tk AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
cnt AS (SELECT doc_id, lang, w, count(*) AS c FROM tk GROUP BY 1, 2, 3),
tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1),
ent AS (
  SELECT cnt.doc_id, cnt.lang,
         -sum((c / n) * log2(c / n)) + 0.0 AS h
  FROM cnt JOIN tot USING (doc_id) GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       round(avg(h), 6) AS avg_entropy_bits,
       round(min(h), 6) AS min_entropy_bits,
       round(max(h), 6) AS max_entropy_bits
FROM ent GROUP BY lang ORDER BY lang
""",
)
def doc_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (bits), rolled up per
    language — the information-density quality signal that separates
    natural text from keyword stuffing / repetition (low entropy) in a
    pretraining filter, complementary to the Gopher-style repetition
    ratios in ``doc_repetition_quality``.

    The ``+ 0.0`` on BOTH engines folds IEEE −0.0 (single-token docs:
    −1·log2(1)) to +0.0 so the type-sensitive value hash cannot split
    on the sign bit.

    Scale: explode → (doc, token) hash-aggregate with map-side partials
    → join per-doc totals on doc_id (same partitioning, AQE-coalesced)
    → per-doc entropy → tiny per-lang rollup. No windows, no driver."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "lang", F.explode(TX.tokens("text")).alias("w")
    )
    cnt = tk.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    ent = (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "lang")
        .agg((-F.sum(p * F.log2(p)) + F.lit(0.0)).alias("h"))
    )
    return (
        ent.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 6).alias("avg_entropy_bits"),
            F.round(F.min("h"), 6).alias("min_entropy_bits"),
            F.round(F.max("h"), 6).alias("max_entropy_bits"),
        )
        .orderBy("lang")
    )


@query(
    "doc_length_bands_by_source",
    oracle="""
WITH q AS (
  SELECT quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.50) AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents
),
banded AS (
  SELECT source,
         CASE WHEN n_chars <= q1 THEN 'Q1_short'
              WHEN n_chars <= q2 THEN 'Q2'
              WHEN n_chars <= q3 THEN 'Q3'
              ELSE 'Q4_long' END AS length_band,
         n_chars
  FROM documents, q
)
SELECT source, length_band,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars
FROM banded GROUP BY source, length_band ORDER BY source, length_band
""",
)
def doc_length_bands_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length quartile bands per source (the length-balance
    report a corpus mix is tuned against): exact global quartile cut
    points, a CASE ladder band assignment, per-(source, band) rollup.
    Same two-pass shape as the flagship price-band query — cut points
    from one exact-percentile aggregate broadcast back, NO global sort.

    Boundary semantics are `<=` on exact type-7 cut points computed from
    integer n_chars, identical on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.agg(
        F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))").alias("q")
    ).select(
        F.col("q")[0].alias("q1"), F.col("q")[1].alias("q2"), F.col("q")[2].alias("q3")
    )
    banded = docs.crossJoin(F.broadcast(q)).select(
        "source",
        "n_chars",
        F.when(F.col("n_chars") <= F.col("q1"), "Q1_short")
        .when(F.col("n_chars") <= F.col("q2"), "Q2")
        .when(F.col("n_chars") <= F.col("q3"), "Q3")
        .otherwise("Q4_long")
        .alias("length_band"),
    )
    return (
        banded.groupBy("source", "length_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("source", "length_band")
    )


@query(
    "doc_bigram_logprob_quality",
    oracle=r"""
WITH tk AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i])) AS w1
  FROM tk WHERE len(toks) >= 2
),
bc AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY bigram),
uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
scored AS (
  SELECT bg.doc_id, bg.lang,
         ln(bc.cb / uc.cu) AS lp
  FROM bg JOIN bc ON bg.bigram = bc.bigram
          JOIN uc ON bg.w1 = uc.w1
),
per_doc AS (
  SELECT doc_id, lang, avg(lp) + 0.0 AS doc_lp, count(*) AS n_bigrams
  FROM scored GROUP BY doc_id, lang
)
SELECT lang,
       count(*) AS n_docs,
       sum(n_bigrams)::BIGINT AS total_bigrams,
       round(avg(doc_lp), 6) AS avg_logprob,
       round(min(doc_lp), 6) AS min_logprob
FROM per_doc GROUP BY lang ORDER BY lang
""",
)
def doc_bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring (the CCNet idea with a bigram LM
    trained on the corpus itself): every document's mean conditional
    bigram log-probability ln P(w2|w1) = ln(c(w1 w2)/c(w1)), rolled up
    per language. Low scores flag incoherent token soup; repeated
    boilerplate scores artificially HIGH — use with the entropy and
    repetition signals, not instead of them.

    Scale: two count aggregates over the exploded bigram stream (map-
    side partials), joined back on the bigram/unigram keys — the
    self-train + score pipeline is three shuffles on n-gram keys, no
    model state, no driver. Counts are conditioned on the bigram
    stream's OWN w1 occurrences (last token of each doc drops out), so
    probabilities are properly normalized without smoothing: every
    scored bigram exists in the counts by construction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    tk = docs.select("doc_id", "lang", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = tk.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                    ).alias("bigram"),
                    F.element_at("toks", i).alias("w1"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "lang", "p.bigram", "p.w1")
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    scored = (
        bg.join(bc, "bigram")
        .join(uc, "w1")
        .select(
            "doc_id",
            "lang",
            F.log(F.col("cb") / F.col("cu")).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        (F.avg("lp") + F.lit(0.0)).alias("doc_lp"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("total_bigrams"),
            F.round(F.avg("doc_lp"), 6).alias("avg_logprob"),
            F.round(F.min("doc_lp"), 6).alias("min_logprob"),
        )
        .orderBy("lang")
    )


@query(
    "source_unigram_kl",
    oracle=r"""
WITH tok AS (
  SELECT source, unnest(""" + _DUCK_TOKENS + r""") AS t
  FROM documents WHERE source IN ('src0', 'src1')
),
c AS (
  SELECT t,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS c0,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM tok WHERE t <> '' GROUP BY 1
),
tot AS (
  SELECT sum(c0)::BIGINT AS n0, sum(c1)::BIGINT AS n1,
         count(*)::BIGINT AS v
  FROM c
)
SELECT v AS vocab_size, n0 AS tokens_src0, n1 AS tokens_src1,
       round(sum(((c0 + 1)::DOUBLE / (n0 + v))
                 * ln(((c0 + 1)::DOUBLE / (n0 + v))
                      / ((c1 + 1)::DOUBLE / (n1 + v)))), 6) AS kl_forward,
       round(sum(((c1 + 1)::DOUBLE / (n1 + v))
                 * ln(((c1 + 1)::DOUBLE / (n1 + v))
                      / ((c0 + 1)::DOUBLE / (n0 + v)))), 6) AS kl_reverse
FROM c, tot
GROUP BY v, n0, n1
""",
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution KL divergence between two corpus sources
    (add-one smoothing over the joint vocabulary, both directions) —
    the domain-shift probe a mixture-rebalancing pipeline runs before
    reweighting sources. Per-term probabilities are ratios of exact
    integer counts (identical in both engines), the log/product per
    term is IEEE-deterministic, and the only cross-engine difference is
    summation order over ~vocab-size terms of magnitude ≲1e-3 — noise
    ~1e-13, far inside the 6dp rounding quantum.

    Scale: explode → one hash aggregate to the (vocab × 2) conditional
    counts (map-side combined), a 1-row totals aggregate broadcast via
    crossJoin, then a single reduce — no joins on the token stream."""
    from .llmdata import _doc_norm_tokens

    docs = _doc_norm_tokens(spark, sf_dir).filter(
        F.col("source").isin("src0", "src1")
    )
    toks = docs.select("source", F.explode("toks").alias("t")).filter(
        F.col("t") != ""
    )
    c = toks.groupBy("t").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    tot = c.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.count(F.lit(1)).alias("v"),
    )
    p0 = (F.col("c0") + 1).cast("double") / (F.col("n0") + F.col("v"))
    p1 = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("v"))
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("v", "n0", "n1")
        .agg(
            F.round(F.sum(p0 * F.log(p0 / p1)), 6).alias("kl_forward"),
            F.round(F.sum(p1 * F.log(p1 / p0)), 6).alias("kl_reverse"),
        )
        .select(
            F.col("v").alias("vocab_size"),
            F.col("n0").alias("tokens_src0"),
            F.col("n1").alias("tokens_src1"),
            "kl_forward",
            "kl_reverse",
        )
    )


@query(
    "group_aware_split_leakage_audit",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5('split:' || user_id), 1, 15))::BIGINT
                   % 10 < 8
              THEN 'train' ELSE 'test' END AS split
  FROM (SELECT DISTINCT user_id FROM events)
),
e AS (
  SELECT u.split, ev.user_id, ev.event_id
  FROM events ev JOIN u USING (user_id)
),
tot AS (SELECT count(*)::DOUBLE AS n FROM events),
leak AS (
  SELECT count(*)::BIGINT AS n_leaked_users
  FROM (SELECT user_id FROM e WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM e WHERE split = 'test')
)
SELECT split,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(*)::BIGINT AS n_events,
       round(count(*) / (SELECT n FROM tot), 6) AS frac_events,
       (SELECT n_leaked_users FROM leak) AS n_leaked_users
FROM e GROUP BY split ORDER BY split
""",
)
def group_aware_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware train/test split with a leakage audit — the split
    discipline for user-correlated training data (reference analogue:
    the row-level createDataPartition split, BigDataProject.R:296-300,
    which would leak a user's events across splits): the split decision
    hashes the GROUP key (user_id) with the engine-portable md5 hash,
    so every event of a user lands on one side, deterministically
    across engines/retries/partitionings. The audit recomputes the
    train∩test user intersection FROM THE SPLIT DATA (not from the
    rule) and pins it to zero in the hashed result.

    Scale: the distinct-user frame is the only shuffle; the split
    column is a map-side expression joined back via broadcast-sized
    user table (or computed inline when the group key is on the fact),
    and the audit is one intersect over the two user sets."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                TX.portable_hash60(
                    F.concat(F.lit("split:"), F.col("user_id").cast("string"))
                )
                % 10
                < 8,
                "train",
            )
            .otherwise("test")
            .alias("split"),
        )
    )
    e = ev.join(F.broadcast(u), "user_id").select("split", "user_id", "event_id")
    tot = ev.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tr = e.filter(F.col("split") == "train").select("user_id").distinct()
    te = e.filter(F.col("split") == "test").select("user_id").distinct()
    leak = tr.intersect(te).agg(F.count(F.lit(1)).alias("n_leaked_users"))
    return (
        e.groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_users",
            "n_events",
            F.round(F.col("n_events") / F.col("n"), 6).alias("frac_events"),
            "n_leaked_users",
        )
        .orderBy("split")
    )


@query(
    "vocab_coverage_thresholds",
    oracle=r"""
WITH tk AS (
  SELECT unnest(""" + _DUCK_TOKENS + r""") AS w FROM documents
),
c AS (SELECT w, count(*)::BIGINT AS n FROM tk WHERE w <> '' GROUP BY w),
r AS (
  SELECT n,
         sum(n) OVER (ORDER BY n DESC, w ASC ROWS UNBOUNDED PRECEDING) AS cum,
         row_number() OVER (ORDER BY n DESC, w ASC) AS rank
  FROM c
),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vocab_size FROM c),
k90 AS (
  SELECT min(rank)::BIGINT AS k_90pct
  FROM r, tot WHERE 10 * cum >= 9 * tot.total
),
cov AS (
  SELECT round(max(cum)::DOUBLE / max(tot.total), 6) AS coverage_top10
  FROM r, tot WHERE rank <= 10
)
SELECT tot.vocab_size, tot.total AS total_occurrences,
       k90.k_90pct, cov.coverage_top10
FROM tot, k90, cov
""",
)
def vocab_coverage_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve readout — the tokenizer-sizing
    question ("how many vocabulary entries cover 90% of running
    text?"): rank the vocabulary by descending occurrence count, take
    the cumulative occurrence mass, and report the smallest rank
    reaching 90% plus the coverage share of a fixed top-10 vocabulary.
    The 90% cut is decided in exact integer arithmetic (10*cum >=
    9*total), so no float boundary can flip the rank between engines.

    Scale: explode → hash-agg to vocab grain; the descending-frequency
    cumulative runs as the range-partitioned two-pass prefix sum over
    the VOCABULARY (never corpus tokens), ordered by a negated-count
    key so the range exchange still partitions ascending — no global
    single-task window."""
    from ..operators.windows import range_partitioned_cumsum

    from .llmdata import _doc_norm_tokens

    docs = _doc_norm_tokens(spark, sf_dir)
    toks = docs.select(F.explode("toks").alias("w")).filter(F.col("w") != "")
    c = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked0, part = range_partitioned_cumsum(
        c.withColumn("neg_n", -F.col("n")).withColumn(
            "one", F.lit(1).cast("long")
        ),
        ["neg_n", "w"],
        ["n", "one"],
        with_part=True,
    )
    ranked = ranked0.select(
        "n", F.col("cum_n").alias("cum"), F.col("cum_one").alias("rank")
    )
    # totals = one flat aggregate over the PINNED partitioned vocab —
    # the separate ``c.agg`` plan was a full second evaluation of the
    # corpus-sized explode + groupBy (r11, guide §1.2); coalesce keeps
    # count()'s 0-on-empty.
    tot = part.agg(
        F.sum("n").cast("long").alias("total"),
        F.coalesce(F.sum("one"), F.lit(0)).cast("long").alias("vocab_size"),
    )
    ranked = ranked.crossJoin(F.broadcast(tot))
    k90 = ranked.filter(10 * F.col("cum") >= 9 * F.col("total")).agg(
        F.min("rank").cast("long").alias("k_90pct")
    )
    cov10 = ranked.filter(F.col("rank") <= 10).agg(
        F.round(
            F.max("cum").cast("double") / F.max("total"), 6
        ).alias("coverage_top10")
    )
    return (
        tot.crossJoin(F.broadcast(k90))
        .crossJoin(F.broadcast(cov10))
        .select(
            "vocab_size",
            F.col("total").alias("total_occurrences"),
            "k_90pct",
            "coverage_top10",
        )
    )


@query(
    "neyman_allocation_by_lang",
    oracle="""
WITH g AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
         stddev_samp(n_chars) AS sd
  FROM documents GROUP BY 1
),
t AS (SELECT sum(n_docs * sd) AS denom FROM g)
SELECT lang, n_docs,
       round(sd, 4) AS sd_chars,
       round(1000.0 * n_docs * sd / t.denom, 2) AS neyman_alloc,
       round(1000.0 * n_docs
             / (SELECT sum(n_docs) FROM g), 2) AS proportional_alloc
FROM g, t ORDER BY lang
""",
)
def neyman_allocation_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (minimum-variance) stratified-sample allocation of a
    1000-document budget across languages: n_h* = B * N_h s_h /
    sum(N_h s_h), shown next to the proportional allocation it beats —
    the sampling-design step that should precede
    stratified_sample_by_lang when strata variances differ (high-
    variance strata earn more than their share of the budget). Strata
    moments come from one grouped aggregate; stddev_samp parity between
    engines is already proven by the ANOVA family; both allocations are
    single divisions of identically-computed operands.

    Scale: one grouped pass to |langs| rows, arithmetic after — the
    design computation is free at any corpus size; executing the
    resulting per-stratum rates reuses the portable-hash Bernoulli
    machinery."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.stddev_samp("n_chars").alias("sd"),
    )
    t = g.agg(
        F.sum(F.col("n_docs") * F.col("sd")).alias("denom"),
        F.sum("n_docs").alias("n_total"),
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            F.round("sd", 4).alias("sd_chars"),
            F.round(
                F.lit(1000.0) * F.col("n_docs") * F.col("sd") / F.col("denom"), 2
            ).alias("neyman_alloc"),
            F.round(
                F.lit(1000.0) * F.col("n_docs") / F.col("n_total"), 2
            ).alias("proportional_alloc"),
        )
        .orderBy("lang")
    )


@query(
    "token_weighted_doc_sample",
    oracle=r"""
WITH w AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+'))::DOUBLE AS n_tokens,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM documents
),
k AS (
  SELECT doc_id, n_tokens,
         ln((h + 1)::DOUBLE / 1152921504606846976.0) / n_tokens AS key
  FROM w
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, round(key, 8) AS sample_key
FROM k ORDER BY key DESC, doc_id ASC LIMIT 20
""",
)
def token_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each doc draws key = ln(u)/w with u = portable-hash uniform in
    (0, 1] and w = its token count; the global top-k by key IS an exact
    w/o-replacement sample with inclusion ∝ weight — fully deterministic
    and replayable (audit-grade sampling: retries, engines, and
    partitionings all pick the identical sample; rand()-based sampling
    can't be re-derived after the fact). Here k=20 docs weighted by
    token count — the 'sample training docs ∝ length' primitive.

    Scale: one narrow projection + TakeOrderedAndProject (per-partition
    heaps); at 100 TB this replaces the driver-side reservoir entirely."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        TX.token_count("text").cast("double").alias("n_tokens"),
        TX.portable_hash60(F.col("doc_id").cast("string")).alias("h"),
    )
    key = (
        F.log((F.col("h") + 1).cast("double") / F.lit(1152921504606846976.0))
        / F.col("n_tokens")
    )
    sel = (
        w.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            key.alias("k"),
        )
        .orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(20)
    )
    return sel.select("doc_id", "n_tokens", F.round("k", 8).alias("sample_key"))


# --------------------------------------------------------------------------
# Distributed BPE vocabulary induction — the first K merges of the
# byte-pair-encoding training loop, ITERATION-EXACT. BPE trains on the
# word-frequency dictionary (Sennrich et al. 2016): the corpus-sized
# work is ONE distributed word count; every merge round then runs on
# the bounded vocab (pair counts weighted by word frequency → argmax →
# greedy leftmost non-overlapping merge). Both engines represent a
# word's symbol sequence as a bracketed string ('[h][i][</w>]') so the
# merge is a plain substring replace with identical left-to-right
# non-overlapping semantics (java String.replace == DuckDB replace),
# and every statistic is an exact integer — no floating point anywhere.
# --------------------------------------------------------------------------

_BPE_ROUNDS = 4

_BPE_VOCAB_SQL = (
    r"""
WITH tk AS (
  SELECT unnest("""
    + _DUCK_TOKENS
    + r""") AS w FROM documents
),
vocab AS (
  SELECT w AS word, count(*)::BIGINT AS n,
         regexp_replace(w, '(.)', '[\1]', 'g') || '[</w>]' AS seq
  FROM tk WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
),
v0 AS (SELECT word, n, seq FROM vocab),"""
)


def _bpe_sql_round(k: int) -> str:
    prev = f"v{k-1}"
    return f"""
p{k} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(n)::BIGINT AS cnt
  FROM (
    SELECT n, unnest(list_zip(list_slice(s, 1, len(s) - 1),
                              list_slice(s, 2, len(s)))) AS pr
    FROM (SELECT regexp_extract_all(seq, '\\[([^\\]]+)\\]', 1) AS s, n
          FROM {prev})
  ) x
  GROUP BY 1, 2
),
m{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
v{k} AS (
  SELECT word, n,
         replace(seq, '[' || m{k}.a || '][' || m{k}.b || ']',
                 '[' || m{k}.a || m{k}.b || ']') AS seq
  FROM {prev}, m{k}
),"""


def _bpe_oracle() -> str:
    parts = [_BPE_VOCAB_SQL]
    parts += [_bpe_sql_round(k) for k in range(1, _BPE_ROUNDS + 1)]
    joined = "".join(parts).rstrip(",")
    finals = [
        f"SELECT {k} AS merge_round, a AS token_a, b AS token_b,"
        f" a || b AS merged, cnt AS pair_count FROM m{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    ]
    return joined + "\n" + "\nUNION ALL ".join(finals) + "\nORDER BY merge_round"


@query("bpe_first_merges", oracle=_bpe_oracle())
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merges over the document corpus (see block comment):
    one distributed token count builds the word-frequency dictionary;
    each round explodes adjacent symbol pairs over the VOCAB (never the
    corpus), weighted by word frequency, takes the exact-integer argmax
    (ties: lexicographic), and applies the merge as a bracketed-string
    replace. localCheckpoint truncates the per-round lineage like the
    other iterative loops (PageRank, connected components).

    Scale: corpus-sized work is the one word-count aggregate; rounds
    cost O(|vocab| * avg_word_len) each. This is exactly how production
    BPE trainers scale to TB corpora — the merge loop never touches the
    corpus again."""
    from .llmdata import _doc_norm_tokens

    from ..plans.materialize import memo

    # Memoized initial vocabulary: the corpus-sized explode +
    # groupBy is the only fact-scale pass in BPE training and is
    # identical every call — the merge rounds never touch the corpus
    # again, so the round loop starts from the memoized frame.
    def build() -> DataFrame:
        docs = _doc_norm_tokens(spark, sf_dir)
        toks = docs.select(F.explode("toks").alias("w")).filter(
            F.col("w").rlike(r"^[a-z]+$")
        )
        return (
            toks.groupBy(F.col("w").alias("word"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "word",
                "n",
                F.concat(
                    F.regexp_replace(F.col("word"), r"(.)", r"[$1]"),
                    F.lit("[</w>]"),
                ).alias("seq"),
            )
        )

    vocab = memo(spark, ("bpe_vocab", sf_dir), build)
    out: list[tuple[int, str, str, str, int]] = []
    for k in range(1, _BPE_ROUNDS + 1):
        syms = F.regexp_extract_all(F.col("seq"), F.lit(r"\[([^\]]+)\]"), 1)
        pairs = vocab.withColumn("_syms", syms).select(
            "n",
            F.explode(
                F.expr(
                    "transform(slice(_syms, 1, size(_syms) - 1),"
                    " (x, i) -> struct(x AS a, element_at(_syms, i + 2) AS b))"
                )
            ).alias("pr"),
        )
        best = (
            pairs.groupBy(
                F.col("pr.a").alias("a"), F.col("pr.b").alias("b")
            )
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()[0]
        )
        out.append((k, best["a"], best["b"], best["a"] + best["b"], best["cnt"]))
        vocab = vocab.withColumn(
            "seq",
            F.replace(
                F.col("seq"),
                F.lit(f"[{best['a']}][{best['b']}]"),
                F.lit(f"[{best['a']}{best['b']}]"),
            ),
        ).localCheckpoint()
    return local_frame(
        spark,
        out,
        "merge_round int, token_a string, token_b string,"
        " merged string, pair_count long",
    ).orderBy("merge_round")


@query(
    "pmi_collocations_top",
    oracle=r"""
WITH tk AS (
  SELECT string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
ug AS (
  SELECT unnest(toks) AS w FROM tk
),
uc AS (SELECT w, count(*)::BIGINT AS cu FROM ug GROUP BY w),
nt AS (SELECT count(*)::BIGINT AS n_tok FROM ug),
bg AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i+1])) AS w2
  FROM tk WHERE len(toks) >= 2
),
bc AS (SELECT w1, w2, count(*)::BIGINT AS cb FROM bg GROUP BY w1, w2),
nb AS (SELECT count(*)::BIGINT AS n_bg FROM bg),
pm AS (
  SELECT bc.w1, bc.w2, bc.cb,
         round(ln(bc.cb::DOUBLE * nt.n_tok::DOUBLE * nt.n_tok::DOUBLE
                  / (nb.n_bg::DOUBLE * a.cu::DOUBLE * b.cu::DOUBLE)), 6)
           AS pmi
  FROM bc
  JOIN uc a ON bc.w1 = a.w
  JOIN uc b ON bc.w2 = b.w
  CROSS JOIN nt CROSS JOIN nb
  WHERE bc.cb >= 5
)
SELECT w1, w2, cb AS pair_count, pmi
FROM pm ORDER BY pmi DESC, w1, w2 LIMIT 15
""",
)
def pmi_collocations_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 collocations by pointwise mutual information over the
    corpus token stream: PMI(w1,w2) = ln(P(w1 w2)/(P(w1)P(w2))) with a
    min-pair-count-5 support floor (raw PMI promotes hapax junk; the
    floor is the standard Church-Hanks fix). The phrase-detection
    primitive behind tokenizer vocab curation and stopword-aware
    indexing — "which adjacent pairs are units, not accidents?".

    Exactness: all counts are exact integers; the PMI ratio is ONE
    left-associated double expression shared by both engines; ranking
    on the rounded score with a (w1, w2) tiebreak.

    Scale: two explode+count aggregates (map-side partials on token /
    pair keys) and a broadcast of the two scalar totals; the pair join
    is on the unigram dictionary (vocabulary-sized, not corpus-sized).
    Top-k is a TakeOrdered, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(TX.tokens("text").alias("toks")).filter(
        F.size("toks") >= 1
    )
    ug = tk.select(F.explode("toks").alias("w"))
    uc = ug.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    nt = ug.agg(F.count(F.lit(1)).alias("n_tok"))
    bg = (
        tk.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).filter(
        F.col("cb") >= 5
    )
    nb = bg.agg(F.count(F.lit(1)).alias("n_bg"))
    a = uc.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    b = uc.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    pm = (
        bc.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("pair_count"),
            F.round(
                F.log(
                    F.col("cb").cast("double")
                    * F.col("n_tok").cast("double")
                    * F.col("n_tok").cast("double")
                    / (
                        F.col("n_bg").cast("double")
                        * F.col("cu1").cast("double")
                        * F.col("cu2").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return pm.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(15)


@query(
    "doc_novelty_by_source",
    oracle=r"""
WITH tk AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM tk WHERE len(toks) >= 3
),
fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
pd AS (
  SELECT sh.doc_id, sh.source,
         count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)::BIGINT
           AS n_novel
  FROM sh JOIN fst ON sh.shingle = fst.shingle
  GROUP BY sh.doc_id, sh.source
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_shingles)::BIGINT AS total_shingles,
       sum(n_novel)::BIGINT AS total_novel,
       round(avg(n_novel::DOUBLE / n_shingles::DOUBLE), 6)
         AS mean_novelty,
       round(sum(n_novel)::DOUBLE / sum(n_shingles)::DOUBLE, 6)
         AS pooled_novelty
FROM pd GROUP BY source ORDER BY source
""",
)
def doc_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty scoring: the share of each document's distinct
    word 3-gram shingles that the document INTRODUCES to the corpus
    (its doc_id is the minimum over all docs containing the shingle) —
    the incremental-ingest dedup signal ("is this crawl snapshot adding
    anything?") that complements the pairwise near-dup family: near-dup
    finds copies, novelty quantifies marginal information by source.

    Exactness: all counts are exact integers over a deterministic
    first-introduction rule (min doc_id); the two ratio forms (mean of
    per-doc shares vs pooled share) are single divisions.

    Scale: explode to (doc, shingle) distinct pairs, one groupBy on the
    shingle key for first-introduction (map-side combine), one shuffle
    join back on the same key, then a doc-grain rollup — three shuffles
    on hashable keys, no all-pairs anything; this is how you'd score a
    100 TB crawl increment against the accumulated shingle dictionary."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source", TX.tokens("text").alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = tk.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("shingle"),
    ).distinct()
    fst = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    pd_ = (
        sh.join(fst, "shingle")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        pd_.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_novel").alias("total_novel"),
            F.round(
                F.avg(
                    F.col("n_novel").cast("double")
                    / F.col("n_shingles").cast("double")
                ),
                6,
            ).alias("mean_novelty"),
            F.round(
                F.sum("n_novel").cast("double")
                / F.sum("n_shingles").cast("double"),
                6,
            ).alias("pooled_novelty"),
        )
        .orderBy("source")
    )


@query(
    "zipf_slope_fit",
    oracle=r"""
WITH tk AS (
  SELECT unnest(""" + _DUCK_TOKENS + r""") AS w FROM documents
),
c AS (SELECT w, count(*)::BIGINT AS n FROM tk WHERE w <> '' GROUP BY w),
rk AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w ASC) AS rank FROM c
),
xy AS (SELECT ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y FROM rk),
s AS (
  SELECT count(*)::DOUBLE AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM xy
)
SELECT m::BIGINT AS vocab_size,
       round((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS zipf_slope,
       round(sy / m - (sxy - sx * sy / m) / (sxx - sx * sx / m) * (sx / m), 6)
         AS zipf_intercept,
       round(((sxy - sx * sy / m) * (sxy - sx * sy / m))
             / ((sxx - sx * sx / m) * (syy - sy * sy / m)), 6) AS r_squared
FROM s
""",
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the FULL vocabulary: log-log OLS of token
    frequency against frequency rank (slope ~ -1 for natural text;
    big departures flag template/boilerplate corpora or tokenizer
    damage). Extends ``vocab_zipf_top20`` (the head of the curve) with
    the whole-distribution exponent + R² goodness readout.

    The global rank over the vocabulary runs through the
    range-partitioned two-pass cumulative (``range_partitioned_rank``)
    — at 100 TB a vocabulary is tens of millions of rows, and a
    partitionless row_number would funnel them through one task.

    Exactness: ranks are exact integers (count desc, token asc total
    order); the OLS is one 6-sum fold in doubles with shared
    association; ln is the engines' shared libm."""
    from ..operators.windows import range_partitioned_rank

    from .llmdata import _doc_norm_tokens

    docs = _doc_norm_tokens(spark, sf_dir)
    toks = docs.select(F.explode("toks").alias("w")).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    rk = range_partitioned_rank(
        counts.withColumn("neg_n", -F.col("n")), ["neg_n", "w"], out="rank"
    )
    xy = rk.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("m")
    return s.select(
        F.col("m").cast("long").alias("vocab_size"),
        F.round(cxy / cxx, 6).alias("zipf_slope"),
        F.round(
            F.col("sy") / F.col("m") - (cxy / cxx) * (F.col("sx") / F.col("m")), 6
        ).alias("zipf_intercept"),
        F.round((cxy * cxy) / (cxx * cyy), 6).alias("r_squared"),
    )


@query(
    "heldout_bigram_lm_eval",
    oracle=r"""
WITH tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
         ('0x' || substr(md5('lm:' || doc_id::VARCHAR), 1, 15))::BIGINT
           % 10000 < 8000 AS in_train
  FROM documents WHERE trim(text) <> ''
),
bg AS (
  SELECT doc_id, in_train,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i])) AS w1,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i+1])) AS w2
  FROM tk WHERE len(toks) >= 2
),
cb AS (
  SELECT w1, w2, count(*)::BIGINT AS cb FROM bg WHERE in_train GROUP BY 1, 2
),
cu AS (SELECT w1, count(*)::BIGINT AS cu FROM bg WHERE in_train GROUP BY 1),
vv AS (SELECT count(DISTINCT w2)::DOUBLE AS v FROM bg WHERE in_train),
ho AS (
  SELECT h.doc_id,
         coalesce(cb.cb, 0) AS cb, coalesce(cu.cu, 0) AS cu
  FROM (SELECT * FROM bg WHERE NOT in_train) h
  LEFT JOIN cb ON h.w1 = cb.w1 AND h.w2 = cb.w2
  LEFT JOIN cu ON h.w1 = cu.w1
),
sc AS (
  SELECT ln((cb + 0.5) / (cu + 0.5 * vv.v)) AS lp,
         CASE WHEN cb = 0 THEN 1 ELSE 0 END AS oov
  FROM ho, vv
)
SELECT (SELECT count(*) FROM tk WHERE in_train)::BIGINT AS n_train_docs,
       (SELECT count(DISTINCT doc_id) FROM ho)::BIGINT AS n_heldout_docs,
       (SELECT v FROM vv)::BIGINT AS vocab_size,
       count(*)::BIGINT AS n_heldout_bigrams,
       round(avg(lp), 6) AS mean_logprob,
       round(sum(oov)::DOUBLE / count(*)::DOUBLE, 6) AS oov_bigram_rate
FROM sc
""",
)
def heldout_bigram_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram language-model evaluation with add-0.5 smoothing:
    train on a deterministic 80% document split, score the held-out 20%
    — pooled mean ln P(w2|w1) = ln((c12+0.5)/(c1+0.5V)) and the unseen-
    bigram rate. The proper train/eval shape that
    ``doc_bigram_logprob_quality`` (self-trained, unsmoothed) skips:
    THIS number is comparable across corpora and catches distribution
    shift between splits; smoothing means unseen events score 1/V-ish
    instead of crashing the product.

    Scale: train counts are two hash aggregates on n-gram keys; scoring
    is two shuffle joins of the held-out bigram stream against them
    (the model IS a pair of tables — no driver state); one scalar
    vocab broadcast.

    Exactness: every count and the split decision are integer/hash
    exact; lp is one shared expression; the means round at 6."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        TX.tokens("text").alias("toks"),
        (
            TX.portable_hash60(
                F.concat(F.lit("lm:"), F.col("doc_id").cast("string"))
            )
            % 10000
            < 8000
        ).alias("in_train"),
    ).filter(F.size("toks") >= 1)
    bg = (
        tk.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "in_train",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("pr"),
        )
        .select("doc_id", "in_train", "pr.w1", "pr.w2")
    )
    tr = bg.filter("in_train")
    cb = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = tr.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vv = tr.agg(F.countDistinct("w2").cast("double").alias("v"))
    ho = (
        bg.filter(~F.col("in_train"))
        .join(cb, ["w1", "w2"], "left")
        .join(cu, ["w1"], "left")
        .select(
            "doc_id",
            F.coalesce("cb", F.lit(0)).alias("cb"),
            F.coalesce("cu", F.lit(0)).alias("cu"),
        )
    )
    sc = ho.crossJoin(F.broadcast(vv)).select(
        "doc_id",
        F.log((F.col("cb") + 0.5) / (F.col("cu") + 0.5 * F.col("v"))).alias("lp"),
        F.when(F.col("cb") == 0, 1).otherwise(0).alias("oov"),
    )
    ntr = tk.filter("in_train").agg(F.count(F.lit(1)).alias("n_train_docs"))
    agg = sc.agg(
        F.countDistinct("doc_id").alias("n_heldout_docs"),
        F.count(F.lit(1)).alias("n_heldout_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
        F.round(
            F.sum("oov").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("oov_bigram_rate"),
    )
    return (
        ntr.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(vv))
        .select(
            F.col("n_train_docs").cast("long").alias("n_train_docs"),
            F.col("n_heldout_docs").cast("long").alias("n_heldout_docs"),
            F.col("v").cast("long").alias("vocab_size"),
            F.col("n_heldout_bigrams").cast("long").alias("n_heldout_bigrams"),
            "mean_logprob",
            "oov_bigram_rate",
        )
    )


@query(
    "dsir_importance_weights",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, source, unnest(""" + _DUCK_TOKENS + r""") AS t
  FROM documents
),
feat AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(t), 1, 15))::BIGINT % 256 AS b
  FROM tok WHERE t <> ''
),
cb AS (
  SELECT b,
         count(*) FILTER (source = 'src0')::BIGINT AS ct,
         count(*)::BIGINT AS cr
  FROM feat GROUP BY b
),
tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM cb),
lr AS (
  SELECT b, ln(((ct + 1)::DOUBLE / (nt + 256))
               / ((cr + 1)::DOUBLE / (nr + 256))) AS logratio
  FROM cb, tot
),
w AS (
  SELECT f.doc_id, f.source, sum(lr.logratio) AS w, count(*) AS n_toks
  FROM feat f JOIN lr ON f.b = lr.b
  GROUP BY f.doc_id, f.source
)
SELECT source,
       count(*) AS n_docs,
       sum(n_toks)::BIGINT AS n_tokens,
       round(avg(w), 6) AS avg_log_weight,
       round(max(w), 6) AS max_log_weight
FROM w GROUP BY source ORDER BY source
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hashed unigram features (portable 60-bit md5 hash -> 256 buckets),
    bucket distributions for the TARGET (source='src0') and the RAW
    corpus with add-one smoothing, and per-document importance
    log-weight = sum over its tokens of log(p_target(b)/p_raw(b)).
    Reported per source: how strongly would importance resampling pull
    each slice toward the target domain.

    Scale: one explode -> hash-agg to the 256 bucket counts (map-side
    combined), then the 256-entry log-ratio table ships back as an
    ARRAY LITERAL (a bounded driver round-trip, like the IQR caps) and
    every document folds its OWN token array against it JVM-side —
    the per-doc weighting never shuffles the token stream and never
    joins; the only exchange after the counts is the per-source rollup.

    Exactness: bucket counts are exact integers (engine-shared md5
    hash), each log-ratio is IEEE-deterministic and computed ONCE (both
    engines then sum the same 256 distinct doubles, Spark in array
    order, DuckDB in group order — ~1e-13 reorder noise under the 6dp
    rounding, same argument as source_unigram_kl)."""
    from .llmdata import _doc_norm_tokens

    docs = _doc_norm_tokens(spark, sf_dir)
    bucket = lambda c: TX.portable_hash60(c) % 256  # noqa: E731
    feat = docs.select(
        "source", F.explode("toks").alias("t")
    ).filter(F.col("t") != "").select("source", bucket(F.col("t")).alias("b"))
    cb = feat.groupBy("b").agg(
        F.sum((F.col("source") == "src0").cast("long")).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    rows = cb.collect()  # bounded: <= 256 rows
    nt = sum(r["ct"] for r in rows)
    nr = sum(r["cr"] for r in rows)
    import math

    lr = [0.0] * 256
    for r in rows:
        lr[r["b"]] = math.log(
            ((r["ct"] + 1) / (nt + 256)) / ((r["cr"] + 1) / (nr + 256))
        )
    lr_arr = F.array(*[F.lit(v) for v in lr])
    toks_ne = F.filter(F.col("toks"), lambda t: t != "")
    w = docs.select(
        "source",
        F.size(toks_ne).alias("n_toks"),
        F.aggregate(
            F.transform(
                toks_ne,
                lambda t: F.element_at(lr_arr, (bucket(t) + 1).cast("int")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("w"),
    ).filter(F.col("n_toks") > 0)
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.round(F.avg("w"), 6).alias("avg_log_weight"),
            F.round(F.max("w"), 6).alias("max_log_weight"),
        )
        .orderBy("source")
    )


@query(
    "training_shard_manifest",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
         ('0x' || substr(md5('epoch0:' || doc_id), 1, 15))::BIGINT AS okey
  FROM documents
),
s AS (SELECT doc_id, n_tokens, okey, okey % 32 AS shard FROM d),
per AS (
  SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
         min(okey)::BIGINT AS first_key, max(okey)::BIGINT AS last_key
  FROM s GROUP BY shard
),
bal AS (
  SELECT max(n_docs) AS mx, min(n_docs) AS mn, avg(n_docs) AS av FROM per
)
SELECT per.shard, per.n_docs, per.n_tokens, per.first_key, per.last_key,
       round(bal.mx / bal.av, 4) AS max_over_avg_docs
FROM per, bal ORDER BY per.shard
""",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-deterministic global shuffle + shard manifest — the step a
    100 TB training run needs between the curated corpus and the data
    loader: every doc gets a portable 60-bit order key md5('epoch0:' ||
    id) (reshuffling an epoch = changing the salt, NO data movement to
    decide), shard = key % 32, and the manifest reports per-shard doc
    and token counts plus first/last order keys (the determinism
    witness: any engine can re-derive the exact read order) and the
    max/avg doc-count balance factor — hash sharding's balance is the
    thing a loader must verify before assuming uniform shards.

    Scale: one projection + one 32-group aggregate; the shuffle itself
    is never materialized — order is a sort key derivable at read time,
    the classic seed-shuffled-shards design."""
    from ..llm.text import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        portable_hash60(
            F.concat(F.lit("epoch0:"), F.col("doc_id"))
        ).alias("okey"),
        F.size(
            F.split(F.trim(F.col("text")), r"\s+")
        ).cast("long").alias("n_tokens"),
    )
    per = (
        d.withColumn("shard", F.pmod(F.col("okey"), F.lit(32)))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("okey").alias("first_key"),
            F.max("okey").alias("last_key"),
        )
    )
    bal = per.agg(
        F.max("n_docs").alias("mx"),
        F.min("n_docs").alias("mn"),
        F.avg("n_docs").alias("av"),
    )
    return (
        per.crossJoin(F.broadcast(bal))
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "first_key",
            "last_key",
            F.round(F.col("mx") / F.col("av"), 4).alias("max_over_avg_docs"),
        )
        .orderBy("shard")
    )

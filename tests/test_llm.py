"""Correctness harnesses for the LLM-data operators on synthetic corpora
with KNOWN duplicates/languages — the oracle-style ground truth the
rows-only driver checks can't provide."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark.llm import dedup as D
from bigdata_carprice_assignment_spark.llm import similarity as S
from bigdata_carprice_assignment_spark.llm import text as TX


@pytest.fixture(scope="module")
def corpus(spark):
    """10 docs: 0≡1 exact dup (mod punctuation), 2≈3 near dup (one word
    changed), 4..9 distinct."""
    base = (
        "the quick brown fox jumps over the lazy dog while the sun shines "
        "bright and the river runs cold through the green valley below"
    )
    near = base.replace("cold", "warm")
    rows = [
        (0, base),
        (1, base.upper().replace("the", "THE") + "!!!"),  # same after normalize
        (2, base + " extra tokens here for difference"),
        (3, near + " extra tokens here for difference"),
        (4, "completely different content about spark query engines and shuffles"),
        (5, "el gato negro duerme en la casa y el perro corre por el parque"),
        (6, "le chat noir dort dans la maison et le chien court dans le parc"),
        (7, "der schwarze hund läuft durch den park und die katze ist nicht da"),
        (8, "数据处理引擎在大规模集群上运行查询"),
        (9, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_finds_normalized_dup(corpus):
    flagged = D.exact_dedup(corpus, "text", "doc_id")
    dups = {r["doc_id"]: r["canonical_id"] for r in flagged.filter("is_duplicate").collect()}
    assert dups == {1: 0}


def test_minhash_dedup_finds_near_dup(corpus):
    flagged = D.minhash_dedup(corpus, "text", "doc_id", threshold=0.5)
    dup_map = {
        r["doc_id"]: r["canonical_id"]
        for r in flagged.filter("is_duplicate").collect()
    }
    # 1 folds into 0 (exact), 3 folds into 2 (near); 2 and 0 share the base
    # sentence so they may also merge — but 4..9 must stay singletons.
    assert 1 in dup_map and 3 in dup_map
    for unique_id in (4, 5, 6, 7, 8, 9):
        assert unique_id not in dup_map
        assert dup_map.get(unique_id) is None


def test_jaccard_verify_exactness(spark):
    """Hand-checkable Jaccard: two docs sharing half their shingles."""
    a = "w1 w2 w3 w4"  # shingles(3): {w1 w2 w3, w2 w3 w4}
    b = "w1 w2 w3 w5"  # shingles(3): {w1 w2 w3, w2 w3 w5}
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "a long, b long")
    out = D.jaccard_verify(df, pairs, "text", "doc_id", threshold=0.0).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(1 / 3)  # 1 common, 3 union


def test_simhash_close_for_near_dups(corpus):
    sh = corpus.select(
        "doc_id", D.simhash("text").alias("sh")
    ).toPandas().set_index("doc_id")["sh"]
    ham = lambda a, b: bin((int(a) ^ int(b)) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(sh[0], sh[1]) == 0  # identical after normalization
    assert ham(sh[2], sh[3]) <= 12  # one word changed
    assert ham(sh[0], sh[4]) > 12  # unrelated


def test_lang_id_on_labeled_samples(corpus):
    got = {
        r["doc_id"]: r["lang"]
        for r in corpus.select("doc_id", TX.lang_id("text").alias("lang")).collect()
    }
    assert got[0] == "en" and got[4] == "en"
    assert got[5] == "es"
    assert got[6] == "fr"
    assert got[7] == "de"
    assert got[8] == "zh"


def test_quality_score_ranks_prose_over_noise(spark):
    rows = [
        (0, "the cat sat on the mat and looked at the dog for a while today"),
        (1, "@@@@ #### $$$$ 1234 5678 !!!! ???? %%%% ^^^^ &&&&"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", TX.quality_score("text").alias("q")).collect()
    }
    assert scores[0] > 0.7
    assert scores[1] < 0.5
    assert all(0.0 <= v <= 1.0 for v in scores.values())


def test_scrub_pii_replaces_typed_patterns(spark):
    rows = [
        (0, "reach me at jane.doe+spam@example.co.uk or (555) 867-5309"),
        (1, "server 10.0.12.7 answered; backup at 192.168.1.254 did not"),
        (2, "call +1 555.867.5309 or 555-867-5309 x12"),
        (3, "no pii here, just 42 plain words and v1.2 version strings"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", TX.scrub_pii("text").alias("t")).collect()
    }
    assert out[0] == "reach me at [EMAIL] or [PHONE]"
    assert out[1] == "server [IP] answered; backup at [IP] did not"
    assert out[2] == "call [PHONE] or [PHONE] x12"
    assert out[3] == rows[3][1]


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "one two  three"), (1, ""), (2, "  "), (3, "a,b.c")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            TX.token_count("text").alias("ws"),
            TX.bpe_ish_token_count("text").alias("bpe"),
        ).collect()
    }
    assert got[0] == (3, 3)
    assert got[1][0] == 0 and got[2][0] == 0
    assert got[3] == (1, 5)  # a , b . c


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[0]
    got = S.cosine_topk(
        df.filter(F.col("vec_id") != 0), "embedding", "vec_id", [float(x) for x in q], k=5
    ).collect()
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = sorted(range(1, 50), key=lambda i: (-sims[i], i))[:5]
    assert [r["vec_id"] for r in got] == want
    for r in got:
        assert r["cosine"] == pytest.approx(float(sims[r["vec_id"]]), abs=1e-6)


def test_lsh_topk_recall_against_exact(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in S.cosine_topk(rest, "embedding", "vec_id", qvec, 10).collect()}
    approx = {
        r["vec_id"]
        for r in S.cosine_topk_lsh(rest, "embedding", "vec_id", qvec, 10).collect()
    }
    assert len(exact & approx) >= 5  # recall ≥ 0.5 on this tiny corpus


def test_blocked_cosine_pairs_equals_bruteforce(spark):
    """The blocked BLAS kernel must emit exactly the brute-force pair
    set, across every block topology: block_rows=4 on 30 vectors forces
    ~8 blocks, exercising within-block (lo==hi) and cross-block paths,
    including pairs whose ids hash into the same block and ids far
    apart. Cosines must match the sequential-fold expression exactly."""
    import random

    random.seed(7)
    rows = []
    for i in range(30):
        base = [random.gauss(0, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
        if i % 3 == 0:  # planted near-dup partner (small perturbation)
            rows.append(
                (100 + i, [float(x + random.gauss(0, 0.01)) for x in base])
            )
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in S.blocked_cosine_pairs(
            df, "v", "vid", threshold=0.9, block_rows=4
        ).collect()
    }
    left = df.select(
        F.col("vid").alias("a"), F.col("v").alias("_va")
    )
    right = df.select(F.col("vid").alias("b"), F.col("v").alias("_vb"))
    brute = {
        (r["a"], r["b"]): r["cosine"]
        for r in left.crossJoin(right)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", S.cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= 0.9)
        .select("a", "b", "cosine")
        .collect()
    }
    assert set(got) == set(brute)
    for k in got:
        assert got[k] == brute[k]  # exact-fold verify ⇒ bit-identical


def test_ivf_topk_contains_top_hit(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rest = emb.filter(F.col("vec_id") != 0)
    exact_top = S.cosine_topk(rest, "embedding", "vec_id", qvec, 1).first()["vec_id"]
    model, assigned = S.ivf_index(emb, "embedding", n_cells=8)
    ivf = {
        r["vec_id"]
        for r in S.ivf_topk(
            model, assigned.filter(F.col("vec_id") != 0), "embedding", "vec_id", qvec,
            k=10, nprobe=4,
        ).collect()
    }
    assert exact_top in ivf


def test_ivf_adaptive_cells_knn_join(spark, sf_smoke):
    """n_cells=None selects the ~4·sqrt(n) adaptive cell count (the
    100 TB path: fixed cells make the per-cell matmul O(n²) — the scale
    probe measured a 100x join-time gap at 50k docs). The adaptive index
    must still produce one top-1 row per vector with valid cosines, and
    with locality good enough that most vectors retrieve their true
    nearest neighbor (clone-heavy corpus ⇒ the true NN shares a cell)."""
    from bigdata_carprice_assignment_spark.sources.readers import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    model, assigned = S.ivf_index(emb, "embedding", n_cells=None, id_col="vec_id")
    import math

    assert len(model.clusterCenters()) == int(min(4096, max(8, 4 * math.sqrt(n))))
    top1 = S.ivf_knn_join(model, assigned, "embedding", "vec_id", k=1, nprobe=4)
    rows = top1.collect()
    assert len(rows) == n  # every vector finds a neighbor in its probes
    assert all(-1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9 for r in rows)
    assert all(r["rank"] == 1 and r["nn_id"] != r["vec_id"] for r in rows)


def test_srp_knn_join_recall_and_pruning(spark, sf_smoke):
    """SRP (sign-random-projection cosine LSH) kNN join: on the hashed
    doc features, every vector whose TRUE nearest neighbor has cosine
    ≥ 0.95 must retrieve exactly that neighbor (measured 45/45 at
    sf0.001 — deterministic: md5-derived hyperplanes, fixed data), and
    the banded candidate set must actually prune (< 10% of all pairs —
    the property euclidean BRP lacks on unit-norm vectors). Random
    ~0.7-cosine 'neighbors' are legitimately missed (approximate by
    contract)."""
    import numpy as np

    from bigdata_carprice_assignment_spark.queries import llmdata as L

    feats = L._hashed_doc_features(spark, sf_smoke)
    pdf = feats.toPandas()
    X = np.array(pdf["feat"].tolist(), dtype=np.float64)
    ids = pdf["doc_id"].to_numpy()
    n = len(ids)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn @ Xn.T
    np.fill_diagonal(C, -2)
    true_nn = {int(ids[i]): (int(ids[C[i].argmax()]), float(C[i].max())) for i in range(n)}
    top1 = {
        r["doc_id"]: r["nn_id"]
        for r in S.srp_knn_join(feats, "feat", "doc_id", k=1).collect()
    }
    strong = {i for i, (_, c) in true_nn.items() if c >= 0.95}
    assert strong, "corpus should contain near-dup feature pairs"
    assert all(top1.get(i) == true_nn[i][0] for i in strong)
    sigs = S.srp_signatures(feats, "feat", "doc_id", 60)
    cands = S.srp_band_pairs(sigs, "doc_id", 60, 10).count()
    assert cands < 0.10 * n * (n - 1) / 2


def test_multimodal_fake_decode_deterministic(spark):
    from bigdata_carprice_assignment_spark.llm import multimodal as MM

    df = spark.createDataFrame(
        [(0, "hello world"), (1, "hello world"), (2, "other")],
        "doc_id long, text string",
    )
    feats = MM.extract_features(MM.documents_as_media(df), decode="fake").collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["sha256"] == by_id[1]["sha256"]
    assert by_id[0]["feat"] == by_id[1]["feat"]
    assert by_id[0]["sha256"] != by_id[2]["sha256"]
    assert all(len(r["feat"]) == 8 for r in feats)
    assert all(r["decode_ok"] for r in feats)


def test_multimodal_real_decode_raises(spark):
    from bigdata_carprice_assignment_spark.llm import multimodal as MM

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(NotImplementedError):
        MM.extract_features(MM.documents_as_media(df), decode="real")


def test_weighted_sample_skews_toward_quality(spark, sf_smoke):
    """A-ES weighted sampling must pull the sampled stratum average
    above the stratum average (w = quality score)."""
    from bigdata_carprice_assignment_spark.queries.llmdata import (
        quality_weighted_sample,
    )

    rows = quality_weighted_sample(spark, sf_smoke).collect()
    assert rows
    # the skew is only resolvable where the sample is a minority of the
    # stratum (sampling 50 of 71 is near-exhaustive — noise dominates)
    informative = [r for r in rows if r["n_docs"] >= 2 * r["n_sampled"]]
    assert informative
    assert all(r["avg_score_sampled"] > r["avg_score_all"] for r in informative)


def test_stdlib_decode_bmp_ppm_wav_text():
    """The pure-stdlib decoders must recover EXACT content statistics
    from hand-built uncompressed payloads (pixel means, PCM stats,
    char-class ratios) — content-derived, not hash-derived."""
    import struct

    from bigdata_carprice_assignment_spark.llm.multimodal import (
        stdlib_decode_features,
    )

    # 2x2 24-bpp BMP, bottom-up, rows padded to 4 bytes (2*3=6 -> 8).
    # pixels (BGR): row0 = (B=10,G=20,R=30), (40,50,60); row1 = (70,80,90), (100,110,120)
    px = bytes([10, 20, 30, 40, 50, 60, 0, 0, 70, 80, 90, 100, 110, 120, 0, 0])
    header = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
    feat, ok = stdlib_decode_features(header + dib + px)
    assert ok and feat[7] == 1.0
    assert feat[:3] == [2.0, 2.0, 3.0]
    assert abs(feat[3] - (30 + 60 + 90 + 120) / 4 / 255) < 1e-12  # mean R
    assert abs(feat[5] - (10 + 40 + 70 + 100) / 4 / 255) < 1e-12  # mean B

    # P6 PPM with a comment; 1x2, maxval 255
    ppm = b"P6\n# c\n2 1\n255\n" + bytes([255, 0, 0, 0, 0, 255])
    feat, ok = stdlib_decode_features(ppm)
    assert ok and feat[:3] == [2.0, 1.0, 3.0]
    assert abs(feat[3] - 0.5) < 1e-12 and abs(feat[5] - 0.5) < 1e-12

    # PCM-16 mono WAV: samples [1000, -1000, 2000, -2000]
    import array

    pcm = array.array("h", [1000, -1000, 2000, -2000]).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    feat, ok = stdlib_decode_features(wav)
    assert ok and feat[7] == 2.0
    assert feat[:3] == [1.0, 8000.0, 16.0]
    assert abs(feat[3] - 0.0) < 1e-12  # mean
    assert abs(feat[5] - 1.0) < 1e-12  # every adjacent pair flips sign

    # text ratios
    feat, ok = stdlib_decode_features(b"Ab 12!\n")
    assert ok and feat[7] == 0.0
    n = 7
    assert abs(feat[0] - 2 / n) < 1e-12   # digits
    assert abs(feat[1] - 2 / n) < 1e-12   # ws (space + newline)
    assert abs(feat[2] - 1 / n) < 1e-12   # punct (!)
    assert abs(feat[3] - 1 / n) < 1e-12   # upper
    assert feat[6] == float(n)

    # corrupt payloads quarantine, never raise
    assert stdlib_decode_features(b"BM\x00\x01") == ([0.0] * 8, False)
    assert stdlib_decode_features(b"RIFFxxxx") == ([0.0] * 8, False)
    assert stdlib_decode_features(None) == ([0.0] * 8, False)


def test_srp_wide_signatures_and_adaptive_bands(spark):
    """Wide (multi-word) SRP path: adaptive band bits widen with corpus
    size, identical vectors always collide (hamming 0, cosine 1 top-1),
    and the wide band join returns the same near-dup pairs the 60-bit
    gate finds on a small corpus."""
    import numpy as np

    from bigdata_carprice_assignment_spark.llm import similarity as S

    assert S.srp_adaptive_band_bits(100) == 10      # floor
    assert S.srp_adaptive_band_bits(500) == 11      # log2+2 regime
    assert S.srp_adaptive_band_bits(50_000) == 18   # log2+2 regime
    assert S.srp_adaptive_band_bits(10**9) == 20    # cap

    rng = np.random.default_rng(7)
    base = rng.integers(0, 9, size=(40, 16)).astype(float)
    rows = [(i, base[i % 40].tolist()) for i in range(80)]  # each vec twice
    df = spark.createDataFrame(rows, "vid long, vec array<double>")

    top1 = S.srp_knn_join(df, "vec", "vid", k=1, band_bits=15)
    got = {r["vid"]: (r["nn_id"], r["cosine"]) for r in top1.collect()}
    assert len(got) == 80
    for vid, (nn, cos) in got.items():
        assert abs(cos - 1.0) < 1e-12  # its clone is an exact-cosine match
        assert nn % 40 == vid % 40

    sigs = S.srp_signatures(df, "vec", "vid", 120)
    pairs = S.srp_band_pairs(sigs, "vid", 120, 15)
    clone_pairs = {(r["a"], r["b"]) for r in pairs.collect() if r["hamming"] == 0}
    for i in range(40):
        assert (i, i + 40) in clone_pairs


def test_semantic_dedup_ledger_consistency(spark, sf_smoke):
    """The prune ledger must be internally consistent: pruned docs =
    labeled nodes minus one kept representative per cluster, and the
    token ledger must follow the same node set."""
    from bigdata_carprice_assignment_spark.queries.llmdata import (
        _blocked_pairs_085,
        semantic_dedup_prune_stats,
    )
    from bigdata_carprice_assignment_spark.llm import dedup as D

    row = semantic_dedup_prune_stats(spark, sf_smoke).first()
    comp = D.connected_components(
        _blocked_pairs_085(spark, sf_smoke).select("a", "b")
    )
    labeled = comp.count()
    clusters = comp.select("component").distinct().count()
    assert row["n_dup_clusters"] == clusters
    assert row["n_pruned"] == labeled - clusters
    assert 0 <= row["tokens_pruned"] < row["tokens_total"]
    assert abs(
        row["kept_token_share"]
        - round(1.0 - row["tokens_pruned"] / row["tokens_total"], 6)
    ) < 1e-12


def test_kmv_small_set_degenerates_to_exact(spark, tmp_path):
    """A scope with fewer than k distinct values must report the exact
    count as its estimate (the <k branch of the KMV contract) — driven
    through the REAL query on a tiny fixture corpus, not emulated —
    and the estimator must be exactly (k-1)*2^60/h_k otherwise."""
    from bigdata_carprice_assignment_spark.llm import text as TX
    from bigdata_carprice_assignment_spark.queries.statistics import (
        kmv_distinct_union_calibration,
    )
    from pyspark.sql import functions as F

    # two sources whose word-3-gram vocabularies are far below k=64
    # (each doc has ~8 tokens -> ~6 shingles; 3 docs per source), so
    # EVERY scope incl. 'ALL' must hit the <k degeneration branch
    k = 64
    rows = [
        (i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i} eta{i} theta{i}",
         "en", f"src{i % 2}", 40)
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["scope"]: r
        for r in kmv_distinct_union_calibration(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"src0", "src1", "ALL"}
    for scope, r in out.items():
        assert 0 < r["n_exact"] < k, scope
        assert r["kmv_estimate"] == float(r["n_exact"]), scope
        assert r["rel_error_pct"] == 0.0, scope

    # >k values: estimator replays as (k-1)*2^60/h_k on the k-th smallest
    df2 = spark.createDataFrame([(f"w{i}",) for i in range(500)], "g string")
    hs2 = sorted(
        r["h"]
        for r in df2.select(TX.portable_hash60(F.col("g")).alias("h"))
        .distinct()
        .collect()
    )
    est = (k - 1) * 1152921504606846976.0 / hs2[k - 1]
    # unbiased within ~4 standard errors (se ≈ n/sqrt(k-2))
    assert abs(est - 500) < 4 * 500 / (k - 2) ** 0.5


def test_exact_substring_window_dedup_planted(spark, tmp_path):
    """Planted 16-token-window duplication: docs A and B share their
    first window verbatim, C is unique, D is too short for any window.
    The per-source ledger must count exactly the planted duplication."""
    from bigdata_carprice_assignment_spark.queries.llmdata import (
        exact_substring_window_dedup,
    )

    shared = " ".join(f"tok{i}" for i in range(16))
    uniq_a = " ".join(f"aa{i}" for i in range(16))
    uniq_c = " ".join(f"cc{i}" for i in range(16))
    rows = [
        (1, shared + " " + uniq_a, "en", "s1", 0),   # 2 windows, 1 dup
        (2, shared, "en", "s1", 0),                   # 1 window, dup
        (3, uniq_c, "en", "s1", 0),                   # 1 window, unique
        (4, "short text only", "en", "s2", 0),        # no full window
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in exact_substring_window_dedup(spark, str(tmp_path)).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_docs"], s1["docs_with_windows"]) == (3, 3)
    assert (s1["windows_total"], s1["dup_windows"]) == (4, 2)
    # shares: doc1 1/2, doc2 1/1, doc3 0/1 -> mean 0.5
    assert s1["mean_dup_share"] == 0.5
    assert s1["docs_majority_dup"] == 2  # doc1 (2*1>=2) and doc2
    assert (s2["n_docs"], s2["docs_with_windows"], s2["windows_total"]) == (1, 0, 0)
    assert s2["mean_dup_share"] == 0.0 and s2["docs_majority_dup"] == 0


def test_srp_knn_join_grouped_path_matches_bruteforce(spark):
    """Heavy exact duplication (40 distinct vectors x 5 clones = 200
    docs, 20% unique) forces the duplication-adaptive GROUPED branch of
    srp_knn_join (band one rep per distinct vector, member-weighted
    caps, expand group pairs). Every doc's top-1 must match numpy brute
    force: a clone's best partner is another clone (cosine exactly 1)
    with the smallest id winning ties."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16))
    rows = []
    for g in range(40):
        for c in range(5):
            rows.append((g * 5 + c, [float(x) for x in base[g]]))
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    got = {
        r["vid"]: (r["nn_id"], r["cosine"])
        for r in S.srp_knn_join(df, "vec", "vid", k=1, band_bits=None).collect()
    }
    assert len(got) == 200
    X = np.array([r[1] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    sims = Xn @ Xn.T
    np.fill_diagonal(sims, -2.0)
    for i in range(200):
        nn, cos = got[i]
        best = sims[i].max()
        # returned neighbor must be AT the brute-force optimum...
        assert sims[i][nn] >= best - 1e-9
        # ...which for a clone is its own group (cosine == 1 exactly),
        # and ties break to the smallest id
        assert nn == min(
            j for j in range(200) if sims[i][j] >= best - 1e-9
        )


def test_srp_band_pairs_uncapped_matches_capped(spark):
    """max_bucket=None (skip the cap window entirely) must emit the
    same pair set as a cap too large to fire — the exactness-gate
    contract behind srp_candidate_pairs_exact's r10 plan change."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vid long, vec array<double>")
    sigs = S.srp_signatures(df, "vec", "vid", 60)
    capped = set(
        (r["a"], r["b"], r["hamming"])
        for r in S.srp_band_pairs(sigs, "vid", 60, 10, max_bucket=10**6).collect()
    )
    uncapped = set(
        (r["a"], r["b"], r["hamming"])
        for r in S.srp_band_pairs(sigs, "vid", 60, 10, max_bucket=None).collect()
    )
    assert capped == uncapped and uncapped
    sigs_w = S.srp_signatures(df, "vec", "vid", 120)
    cw = set(
        (r["a"], r["b"]) for r in
        S.srp_band_pairs(sigs_w, "vid", 120, 15, max_bucket=10**6).collect()
    )
    uw = set(
        (r["a"], r["b"]) for r in
        S.srp_band_pairs(sigs_w, "vid", 120, 15, max_bucket=None).collect()
    )
    assert cw == uw


def test_srp_knn_join_catalog_stats_match_probed_route(spark):
    """Passing catalog stats (n_docs_stat / n_distinct_stat) must give
    the same result as letting srp_knn_join probe the corpus itself —
    on BOTH routes of the dedup-before-ANN switch (clone-heavy corpus
    takes the grouped branch, all-unique takes the wide branch)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 12))
    clone_rows = [
        (g * 4 + c, [float(x) for x in base[g]]) for g in range(30) for c in range(4)
    ]
    clones = spark.createDataFrame(clone_rows, "vid long, vec array<double>")
    probed = sorted(
        (r["vid"], r["nn_id"])
        for r in S.srp_knn_join(clones, "vec", "vid", k=1, band_bits=None).collect()
    )
    hinted = sorted(
        (r["vid"], r["nn_id"])
        for r in S.srp_knn_join(
            clones, "vec", "vid", k=1, band_bits=None,
            n_docs_stat=120, n_distinct_stat=30,
        ).collect()
    )
    assert probed == hinted and len(hinted) == 120
    uniq_rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(80)]
    uniq = spark.createDataFrame(uniq_rows, "vid long, vec array<double>")
    probed_u = sorted(
        (r["vid"], r["nn_id"])
        for r in S.srp_knn_join(uniq, "vec", "vid", k=1, band_bits=None).collect()
    )
    hinted_u = sorted(
        (r["vid"], r["nn_id"])
        for r in S.srp_knn_join(
            uniq, "vec", "vid", k=1, band_bits=None,
            n_docs_stat=80, n_distinct_stat=80,
        ).collect()
    )
    assert probed_u == hinted_u
    # an internally INCONSISTENT stat pair (distinct > total — provably
    # stale/wrong) must be discarded, not trusted: result equals the
    # probed route either way (ADVICE r10 clamp)
    clamped = sorted(
        (r["vid"], r["nn_id"])
        for r in S.srp_knn_join(
            clones, "vec", "vid", k=1, band_bits=None,
            n_docs_stat=120, n_distinct_stat=500,
        ).collect()
    )
    assert clamped == probed

"""The benchmark's workloads: fixed op lists over the query registry.

Each op is a registered query name. One run executes the list as a cold
pass in the listed order, then as a warm pass in a seeded order, in one
fresh driver process. The lists are subsets sized so that a run, set-up
included, takes under a minute on 4 cores; README.md says why each op is
in its list and which were left out.
"""

from __future__ import annotations

# Scale factor of the generated inputs. Most ops here cost Spark job
# scheduling and plan building, not data volume: at sf 0.003 and 0.01 the
# same lists take the same time within 10%, so the inputs stay small.
SCALE_FACTOR = 0.01


# Why each workload exists is stated in BENCHMARK.json and README.md.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "analytics": (
        # a sink round-trip: JSON lines written, then read back
        "jsonl_roundtrip_part_stats",
        # 23 and 19 short Spark jobs per call
        "flag_status_mutual_information",
        "event_conditional_entropy",
        # short relational, trend, statistics and window ops
        "top10_part_brands",
        "forecast_revenue_change",
        "pearson_r_components",
        "monthly_urgent_share",
    ),
    "corpus": (
        # streaming micro-batches
        "streaming_sliding_rollup_replay",
        # kNN join over pooled features, decode on Python workers
        "ivf_knn_join_top1",
        "multimodal_feature_extract",
        # document fingerprint, token, quality and embedding statistics
        "doc_fingerprint_stats",
        "doc_token_stats_by_lang",
        "doc_quality_by_source",
        "embedding_norm_stats",
    ),
}

# Workloads whose ops run Python code on Python workers (kNN and decode
# UDFs); their set-up brings the workers up. Set-up of the others skips
# that, which saves 8 s of wall time per run on 4 cores.
PYTHON_WORKER_WORKLOADS = frozenset({"corpus"})

"""The benchmark's workloads: which registered queries make up one pass, and
how each pass is ordered.  README.md says why each workload exists."""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    # a warm pass's usual wall time on 4 cores; sizes the timed window
    nominal_pass_s: float
    # untimed passes after the cold one, so that the timed passes start past
    # the steepest part of the JIT's warm-up
    warmup_passes: int = 0


WORKLOADS: dict[str, Workload] = {
    # API-style requests where fixed per-query cost dominates
    "serve": Workload(
        ops=(
            "user_api_key_lookup", "feedback_accuracy", "challenge_leaderboard",
            "highlevel_class_map", "feature_projection_defaults", "ingest_validation",
            "job_queue_state", "dataset_snapshot_flat", "uuid_normalize", "table_checksum",
            "content_hash_dedup", "knn_exact_topk", "knn_postprocess", "ann_brute_cosine_topk",
            "ann_pq_adc_topk", "embedding_neardup",
        ),
        nominal_pass_s=7.0,
        # the first pass after the cold one still costs about 25% more CPU
        # than the next; without it, best-of-two would nearly always pick the
        # second pass and could not step around a burst of host steal
        warmup_passes=1,
    ),
    # streaming micro-batches and the file-commit path
    "ingest": Workload(
        ops=(
            "streaming_daily_counts", "streaming_dedup_within_watermark",
            "streaming_upsert_foreachbatch", "streaming_interval_join",
            "streaming_python_sink_rollup", "dump_tsv_roundtrip", "partitioned_write_prune",
            "ingest_pipeline_composed",
        ),
        nominal_pass_s=12.0,
    ),
    # executor-heavy batch jobs; runnable by hand, not in BENCHMARK.json
    "nightly": Workload(
        ops=(
            "ngram_jaccard_neardup", "prefix_filter_jaccard", "minhash_lsh_neardup",
            "neardup_cluster_assign", "bfs_shortest_paths", "pagerank_copurchase",
            "similarity_vectors", "ann_ivf_kmeans_topk", "dump_json_shards",
        ),
        nominal_pass_s=20.0,
    ),
}


def timed_passes(wl: Workload, seconds: float) -> int:
    """Whole passes in a timed window of about ``seconds``.  A fixed count,
    rather than "until the clock runs out", keeps a slow pass from changing
    how many passes a run measures."""
    return max(1, round(seconds / wl.nominal_pass_s))


def pass_order(ops: tuple[str, ...], seed: int, pass_idx: int) -> list[str]:
    """One seeded permutation of ``ops``; every pass runs each op once."""
    order = list(ops)
    random.Random(seed * 1_000_003 + pass_idx).shuffle(order)
    return order

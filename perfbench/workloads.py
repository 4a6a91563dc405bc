"""Workloads, layers and launch sizing of the benchmark.

A workload is a fixed list of registered keys run in one closed loop; the
run's seed only permutes their order within each pass. A layer is the
module that registers a key.
"""

from __future__ import annotations

# Fixture tables copied from the generator's seed-42 sf0.01 set.
FIXTURE = "sf0.01"
# Driver heap, below the host's RAM (get_spark defaults to 16g). The whole
# heap is touched at launch, so this is also the JVM heap's share of peak RSS.
DRIVER_MEM = "2g"

WORKLOADS: dict[str, dict] = {
    "warehouse": {
        "why": "relational reads over lineitem, orders and events: scans, shuffles and the plan floor, with no Python workers or share frames",
        "keys": [
            "tpch_q1",
            "tpch_q6",
            "agg_cube",
            "join_asof",
            "win_topk_group",
            "set_except_all",
        ],
        "tables": ["lineitem", "orders", "events"],
        # Its pass is the shortest (3-5 s), so one contention burst on the
        # host moved a single pass by 20%; the median of three does not move.
        # The first pass after one warm pass still ran 20% slow (JIT), so
        # a second warm pass keeps the three timed ones alike.
        "warm_passes": 2,
        "min_passes": 3,
    },
    "curation": {
        "why": "LLM-data operators over documents and embeddings: executor CPU, Python workers, candidate joins and share frames",
        "keys": [
            "dedup_ngram_jaccard",
            "text_stats",
            "quality_gopher",
            "embed_normalize",
            "text_bm25",
            "udf_grouped_map",
            "pipeline_e2e",
        ],
        "tables": ["documents", "embeddings"],
    },
    "maintenance": {
        "why": "iterative, streaming, append and sink keys: many dependent jobs per result and state written then read back",
        "keys": [
            "graph_label_prop",
            "vocab_build",
            "stream_upsert_sink",
            "text_substring_store_update",
            "sink_parquet",
        ],
        "tables": ["nation", "events", "documents", "orders"],
    },
}

LAYERS = [
    "operators",
    "operators.graph",
    "operators.scans",
    "functions.udfs",
    "pipeline.dedup",
    "pipeline.similarity",
    "pipeline.text",
    "pipeline.curation",
    "pipeline.retrieval",
    "pipeline.training",
    "pipeline.e2e",
    "streaming.ops",
]

# Summed over a layer's keys within one traced pass.
MEASURES = {
    "build_s": "s",
    "action_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "driver_gap_s": "s",
    "pyworker_cpu_s": "s",
}


def layer_of(module: str) -> str:
    """Layer of the module that registered a key.

    Every ``operators`` module other than ``graph`` and ``scans`` folds
    into the ``operators`` layer.
    """
    name = module.removeprefix("data_transform_spark.")
    if name in LAYERS:
        return name
    if name.startswith("operators."):
        return "operators"
    raise ValueError(f"{module} is not one of the benchmark's layers")

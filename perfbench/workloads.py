"""The benchmark's workloads: which registry entries, in which order."""

from __future__ import annotations

from dataclasses import dataclass

HEADLINE = (
    "q1_pricing_summary",
    "q3_revenue_by_order",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "catalog_stats",
    "j3_multi_path_flatten",
    "a9_dedup_keep_last",
    "w1_eav_pivot",
    "events_daily_rollup",
    "dedup_ngram_jaccard",
    "text_quality",
    "sim_cosine_topk",
)
GRAPH = (
    "graph_pagerank_topk",
    "entity_golden_record",
    "dedup_cluster_components",
    "graph_kcore_membership_knn",
)


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    why: str


WORKLOADS = {
    "interactive": Workload(
        HEADLINE,
        "short headline queries without checkpoints: construction, "
        "catalog lookups and planning are a visible share of each",
    ),
    "checkpointed": Workload(
        ("ccdi_release_dashboard", "graph_pagerank_topk", "dedup_cluster_components"),
        "release dashboard (eager checkpoints, four threads on one "
        "session) then PageRank and connected-components loops "
        "(a localCheckpoint per round)",
    ),
    "release": Workload(
        ("ccdi_release_dashboard", "ccdi_to_dbgap"),
        "the data manager's go/no-go run: eager checkpoints and shuffles",
    ),
    "graph_loops": Workload(
        GRAPH,
        "iterative graph loops: many tiny jobs, a checkpoint per round",
    ),
}


def all_entries() -> list[str]:
    """Every entry of every workload, once, in first-seen order."""
    return list(dict.fromkeys(e for w in WORKLOADS.values() for e in w.entries))

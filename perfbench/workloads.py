"""The benchmark's workloads: which registry queries run, on which
generated input, and why the workload was chosen."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Workload:
    name: str
    queries: tuple[str, ...]
    sizes: dict  # generator sizes, see gen.generate
    why: str


# Tables a workload does not exercise stay small but present: the DuckDB
# oracle connection registers every table.
_SMALL = {
    "events": 2_000, "users": 50, "days": 30, "event_row_groups": 1,
    "documents": 200, "near_dup_share": 0.2,
    "embeddings": 200, "clusters": 10,
    "orders": 200,
}

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lob_oi",
            (
                "oi_hourly_densified",
                "iceberg_split_oi",
                "multi_delta_oi",
                "regression_workflow_coefs",
                "portfolio_workflow_pnl",
            ),
            {**_SMALL, "events": 40_000, "users": 400, "event_row_groups": 8},
            "paper E1+E3 path (as-of iceberg tagging, OI bins, OLS, "
            "portfolio PnL): window sorts and aggregates on the executors, "
            "one large session.pin",
        ),
        Workload(
            "llm_dedup",
            (
                "exact_dedup_groups",
                "jaccard_near_dups",
                "minhash_lsh_pairs",
                "near_dup_clusters",
                "embedding_near_dups",
            ),
            {**_SMALL, "documents": 600, "near_dup_share": 0.2,
             "embeddings": 600},
            "dedup and similarity: pair-generating shuffle joins plus a "
            "connected-components loop of many small pins; no OI operator runs",
        ),
    )
}

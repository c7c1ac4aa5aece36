"""The benchmark's workloads: which registry operations each one runs,
which catalog tables it touches first, and why it was chosen.

Every operation is a registry entry (``queries.all_queries()``) with a
DuckDB oracle, and none writes under the warehouse directory
(``spark-warehouse/``), whose persistent index caches would make set-up
time depend on earlier runs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    tables: tuple[str, ...]
    # the fewest timed passes; each gives every operation one sample
    passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="analytics",
            why=(
                "the reference dashboard and funnels over events: short scans, "
                "aggregates and joins that fire no Spark job at build time"
            ),
            ops=(
                "daily_events",
                "top_categories",
                "hour_event_value",
                "weekday_conversion_volume",
                "conversion_rate",
                "purchase_funnel",
                "event_enrichment",
                "asof_purchase_view",
                "purchase_attribution",
                "ab_test_report",
            ),
            tables=("events",),
            passes=2,
        ),
        Workload(
            name="corpus",
            why=(
                "build-heavy, iterative, multi-job corpus operators (semantic "
                "dedup, product quantization, basket rules); reads only, never "
                "streams"
            ),
            ops=(
                "semdedup_clusters",
                "pq_encode",
                "market_basket_rules",
            ),
            tables=("embeddings", "lineitem", "part"),
            # a pass (about 7 s on 4 CPUs) outlasts --seconds; two give
            # each operation two samples
            passes=2,
        ),
        Workload(
            name="stream",
            why=(
                "the write path: replay into micro-batches, lakehouse manifest "
                "commits and the wire source; cost is per-micro-batch overhead"
            ),
            ops=(
                "streaming_manifest_ingest",
                "wire_stream_counts",
            ),
            tables=("events",),
        ),
    )
}

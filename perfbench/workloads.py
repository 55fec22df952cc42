"""The benchmark's workloads: each is one closed-loop job sequence.

A job is a query name from ``QUERIES`` (checked against ``ORACLES``
run by DuckDB on the same inputs) or ``TERASORT`` (read the seed's
records, ``sources.terasort.terasort``, write parquet; checked by the
file-order validator).  How the jobs were chosen and what each
workload measures is in README.md: from each candidate list, the
TeraSort plus the jobs that were cheapest in a traced survey pass,
while their summed latency stayed within 12 s.
"""

from __future__ import annotations

TERASORT = "terasort"

WORKLOADS: dict[str, list[str]] = {
    # Small TPC-H queries, MapReduce-operator jobs and a TeraSort, all
    # in the JVM: per-job driver overhead and short Spark stages.
    "relational": [
        "q6_revenue_forecast",
        "q12_priority_by_status",
        "q13_order_count_distribution",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity",
        "q18_large_orders",
        "q19_disjunctive",
        "join_outer",
        "window_topn_per_customer",
        "window_running_sum",
        "sessionize_events",
        "sort",
        "rollup_orders",
        "asof_join_events_orders",
        "interval_join_shipments",
        "salted_join_mktsegment",
        TERASORT,
    ],
    # An LLM text job, an image decode through Python workers and
    # availableNow streaming drains: construction-time drains, the
    # Python boundary and per-micro-batch, per-state-store cost.
    "llm_stream": [
        "text_pii_redact",
        "multimodal_decode",
        "streaming_sliding_counts",
        "streaming_stateful_counts",
        "streaming_session_window",
        "streaming_dedup",
        "streaming_static_join",
    ],
}

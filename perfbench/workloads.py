"""The benchmark's workloads: the registry queries each one runs, the
scale factor of its generated input, and the fewest timed passes a run
makes. RATIONALE.md records why each was chosen."""

WORKLOADS = {
    # fixed per-query cost: planning, codegen, job launch, driver probes.
    # Half of the relational q-tier, chosen by rule: the 28 q-queries
    # sorted by their time in plans/r20/bench_full_final.json, then every
    # second one starting from the cheapest.
    "short_queries": {"sf": 0.01, "min_passes": 3, "queries": [
        "q23_event_props_json", "q17_string_funcs", "q19_order_size_buckets",
        "q07_parts_stats", "q10_customers_with_final_orders",
        "q15_all_party_names", "q18_orders_by_month", "q22_top_event_per_user",
        "q21_events_daily", "q16_distinct_flag_status",
        "q20_lineitem_rollup_policies", "q11_top3_orders_per_customer",
        "q04_priority_with_late_ship", "q02_revenue_by_nation"]},
    # shuffle-heavy operators: pair joins, graph supersteps, micro-batches
    "operators": {"sf": 0.01, "min_passes": 2, "queries": [
        "dd04_simhash_pairs", "fz01_fuzzy_part_lookup", "gr01_pagerank",
        "sm12_stream_archive_ingest"]},
}

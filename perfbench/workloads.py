"""The benchmark's workloads: which registry queries, on how many replicas.

`copies` replicas of the base tables (sf0.01-size each, see gen.py) make
the input; `queries` run in this order in every pass.

Pass lengths are sized so that every run fits the benchmark's budget
(50-60 s a run on 4 cores); the per-layer figures behind each comment
below are in perfbench/README.md.
"""

WORKLOADS = {
    # Fixed per-query cost: planning, dispatch, codegen and scan set-up.
    # Tasks keep the 4 cores busy only ~15% of a pass.
    "interactive_sf001": {
        "copies": 1,
        "queries": [
            "q1_pricing_summary", "q3_shipping_priority", "ta_speed_summary",
            "ta_hourly_activity", "tx_lang_id", "ing_json_props",
            "geo_range_query",
        ],
    },
    # Dedup staging plus connected-components rounds, and streaming
    # ingest (a windowed aggregation over the state store, a dated
    # landing-zone sink). Also fixed-cost bound at this size: 2 replicas
    # instead of 1 barely move a pass.
    "pipeline_sf002": {
        "copies": 2,
        "queries": ["dd_cluster", "st_windowed_counts", "st_dated_sink"],
    },
}

"""Workload parameters of the graft benchmark: registry keys, scale factors
and comment counts. BENCHMARK.json names the workloads and holds every
metric's unit and direction; why each workload exists, and which end-to-end
metric each layer metric should move, is in METRICS.md.
"""

WARM_SF = 0.001  # warm-up inputs: every workload warms up at this scale

WORKLOADS = {
    # registry keys over the warehouse tables: short dashboard/ETL queries
    # (fixed per-query cost dominates), readers of shared Materialize.once
    # indexes (built in the cold round 0, reused after) and micro-batch
    # stream replays (state stores, checkpoints)
    'registry': {
        'kind': 'registry', 'sf': 0.01,
        'keys': ['q02_json_flatten', 'q07_ts_range_filter', 'q12_anti_join_dedup',
                 'q15_groupby_count', 'q17_topk_groups', 'q18_tumbling_day_count',
                 'q19_share_of_total', 'q22_running_state', 'q34_sentiment_udf',
                 'q36_case_label', 'q297_assortativity', 'q204_bigram_lm',
                 'q37_microbatch_trigger', 'q75_stateful_sessions'],
    },
    # the social-media flow: write path and enrichment modules, data-bound
    'pipeline': {
        'kind': 'pipeline', 'comments': 15000, 'warm_comments': 300,
    },
}

"""The benchmark's workloads and the keys each one runs.

Why each workload exists, and which layer it should move, is in
benchmark/README.md. Key lists are fixed; `--seed` only changes the
generated corpus and the per-pass key order.
"""

# A `_tvf` key and the DataFrame-API key computing the same answer.
TVF_TWINS = {
    "ts_resample_tvf": "ts_resample_agg",
    "ts_resample_origin_tvf": "ts_resample_origin",
    "ts_sessionize_tvf": "ts_sessionize",
    "join_asof_tvf": "join_asof_by",
    "sample_token_budget_tvf": "sample_token_budget",
    "agg_ols_tvf": "agg_ols_normal_eq",
}

FLOOR = [
    # Scans, Filters, Windows, Scalars, Joins, TimeSeries (udaf Ewm),
    # LlmOps, TextOps
    "scan_parquet", "filter_compound", "win_lag_lead", "json_get",
    "join_anti", "ts_ewm", "dedup_hash", "text_lang_id",
    # SQL TVFs beside their DataFrame-API twins
    "ts_resample_tvf", "ts_resample_agg", "ts_resample_origin_tvf",
    "ts_resample_origin", "ts_sessionize_tvf", "ts_sessionize",
    "join_asof_tvf", "join_asof_by", "sample_token_budget_tvf",
    "sample_token_budget",
]

HEAVY = [
    "agg_ols_normal_eq", "agg_ols_tvf", "ts_funnel_stateful",
    "sim_pq_adc_topk", "sim_pq_recall_report",
]


def _pairs(keys):
    return {t: w for t, w in TVF_TWINS.items() if t in keys and w in keys}


WORKLOADS = {
    "floor": {"keys": FLOOR, "scale": 1},
    "heavy": {"keys": HEAVY, "scale": 3},
}
for _wl in WORKLOADS.values():
    _wl["tvf_pairs"] = _pairs(_wl["keys"])

"""Differential oracle vs DuckDB for every registered op (SURVEY §5.1).

One pytest per op id: the same row-count + schema + order-insensitive
canonical value comparison the driver applies at sf0.01, run locally at
sf0.001 so regressions surface before the driver does.
"""

from __future__ import annotations

import pytest

from userportrait.registry import load_all_ops
from userportrait.testing.check import compare_op

from .conftest import SF_DIR

# Tier split: the 50-op grading window (the first 50 queries() entries;
# see registry.GRADE_FIRST) runs in the default tier, and so do the ops
# named below: sixteen oldest-evidence greens that sit just outside the
# window and keep their default-tier cases, the single-tag ops that share
# their rules with profile_assemble and tag_refresh_delta, and the caller
# of ranking.exact_prefix outside it, so every caller is graded in the
# default tier, and the ANN index lifecycle ops (deletes, compactions,
# rebalance, retrains, appends), which share the manifest commit of
# scans._snapshot_commit. The rest of the registry is the slow tier
# (UP_SLOW_TESTS=1). The assertion set over the full registry is unchanged.
_DEFAULT_TIER = set(list(load_all_ops())[:50]) | {
    "events_rolling_distinct_users",
    "agg_hll_rolling_distinct",
    "doc_split_drift",
    "dq_profile_columns",
    "events_forecast_holt",
    "doc_importance_resample",
    "events_cuped_adjust",
    "events_attribution",
    "tag_decay_score",
    "events_ab_ttest",
    "agg_cms_topk",
    "fn_higher_order",
    "join_interval",
    "agg_groupby_basic",
    "agg_filter_clause",
    "tag_funnel_windowed",
    "tag_consumption_cycle",
    "tag_match_rule",
    "tag_age_bucket",
    "tag_rfe",
    "sink_ivf_delete",
    "sink_ivf_delete_kmeans",
    "sink_pq_delete",
    "sink_pq_compact",
    "sink_ivf_retrain",
    "sink_pq_retrain",
    "sink_ivf_rebalance",
    "sink_ivf_append_kmeans",
    "sink_ivf_compact_kmeans",
    "sink_ivfpq_append",
}
ALL_OPS = [
    n if n in _DEFAULT_TIER else pytest.param(n, marks=pytest.mark.slow)
    for n in sorted(load_all_ops())
]


@pytest.mark.parametrize("name", ALL_OPS)
def test_op_matches_oracle(spark, duck, name):
    r = compare_op(spark, duck, name, SF_DIR)
    assert r["status"] in ("PASS", "ROWS_ONLY"), f"{name}: {r['status']}\n{r['detail']}"
    if r["status"] == "ROWS_ONLY":
        # ROWS-only ops (seeded ML) must still produce rows.
        assert r["detail"].split()[0] != "0", f"{name} returned 0 rows"

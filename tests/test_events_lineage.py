"""Plan census of the events query family: each query builds its
holdout lineage (panel → cutoff → train/truth → closed-form forecasts)
once, so its optimized plan reads the events table only as often as
the lineage's branches need. No query is executed: only its plan is
built (reading a parquet footer for the schema is the one Spark job)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

# events scans in the optimized plan, per query
MAX_RELATIONS = {
    "forecasts_sql_events": 1,
    "eval_metrics_events": 4,
    "ensembles_events": 3,
    "bestmodel_wins_events": 4,
    "quantile_eval_events": 4,
    "pooled_eval_events": 2,
    "weighted_summary_events": 8,
    "rolling_backtest_events": 4,
    "ensemble_backtest_events": 10,
}


def _relation_leaves(df) -> int:
    """Leaves of the optimized logical plan that read a table."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    it = leaves.iterator()
    n = 0
    while it.hasNext():
        if it.next().getClass().getSimpleName().endswith("Relation"):
            n += 1
    return n


@pytest.mark.parametrize("name", sorted(MAX_RELATIONS))
def test_events_query_builds_lineage_once(spark, name):
    from fforma_spark.queries import QUERIES

    n = _relation_leaves(QUERIES[name](spark, SF_DIR))
    assert 0 < n <= MAX_RELATIONS[name], (name, n)

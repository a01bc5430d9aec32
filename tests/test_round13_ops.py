"""Round-13 optimization pins: the internals changed by this round keep
their results and their scale-safe shapes.

- spread() survives a non-numeric shuffle-partitions conf (ADVICE r12).
- md5_shingle_rows(rebalance=True) is row-identical to the default and
  actually widens the pre-explode layout (batch 2).
- q_mixture_em / q_bradley_terry / q_eval_confusion stay deterministic
  and correct after the spread / coalesce(1)-checkpoint changes; the
  eval-confusion plan carries the round-robin exchange.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark import plans
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.parallelism import spread
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
    md5_shingle_rows,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

from conftest import SF_DIR


def _rows(df):
    return Counter(map(tuple, df.collect()))


def test_spread_non_numeric_conf_falls_back(spark):
    # Spark 4 rejects a non-numeric value on conf.set, so emulate the
    # platform case (conf carries "auto" / is absent) at the getter
    from unittest import mock

    from pyspark.sql.conf import RuntimeConfig

    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    df_in = load_table(spark, SF_DIR, "nation").select("n_nationkey")
    with mock.patch.object(RuntimeConfig, "get", autospec=True, side_effect=get):
        df = spread(df_in)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_shingle_rebalance_row_identical_and_wider(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = md5_shingle_rows(docs, 3)
    reb = md5_shingle_rows(docs, 3, rebalance=True)
    assert _rows(base) == _rows(reb)
    # the rebalanced variant carries the pre-explode exchange
    assert "RoundRobinPartitioning" in plans.formatted_plan(reb)
    assert reb.rdd.getNumPartitions() >= base.rdd.getNumPartitions()


def test_mixture_em_deterministic_and_sane(spark):
    a = _rows(REGISTRY["q_mixture_em"].fn(spark, SF_DIR))
    b = _rows(REGISTRY["q_mixture_em"].fn(spark, SF_DIR))
    assert a == b
    rows = {r[0]: r for r in a}
    assert set(rows) == {1, 2}
    for comp, weight, mu, sigma in a:
        assert 0.0 < weight < 1.0
        assert sigma >= 1.0
    assert abs(sum(r[1] for r in a) - 1.0) < 1e-5


def test_bradley_terry_deterministic_and_sane(spark):
    a = _rows(REGISTRY["q_bradley_terry"].fn(spark, SF_DIR))
    b = _rows(REGISTRY["q_bradley_terry"].fn(spark, SF_DIR))
    assert a == b
    for event_type, bt_score, n_wins, n_games in a:
        assert bt_score > 0.0
        assert 0 <= n_wins <= n_games
    # MM scores are sum-normalized to the item count (up to rounding)
    assert abs(sum(r[1] for r in a) - len(a)) < 1e-3


def test_hits_plans_real_scans_not_checkpoint_stubs(spark):
    # r13 revert of the r12 q_hits checkpoints (sf10: stats-blind
    # joins + storage pressure regressed 28.7 -> 80.3 s and OOM'd on
    # repeat).  The plan must root at real parquet scans so the
    # planner keeps size statistics for the three iteration joins.
    df = REGISTRY["q_hits"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "ExistingRDD" not in text, text
    assert "Scan parquet" in text, text
    a, b = _rows(df), _rows(REGISTRY["q_hits"].fn(spark, SF_DIR))
    assert a == b


def test_eval_confusion_spread_plan_and_determinism(spark):
    df = REGISTRY["q_eval_confusion"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    # the candidate side is rebalanced before the broadcast knn join
    assert "RoundRobinPartitioning" in text, text
    assert "CartesianProduct" not in text, text
    a, b = _rows(df), _rows(REGISTRY["q_eval_confusion"].fn(spark, SF_DIR))
    assert a == b
    for label, n_true, n_pred, tp, precision, recall in a:
        assert 0 <= tp <= max(n_true, n_pred)
        assert 0.0 <= precision <= 1.0 and 0.0 <= recall <= 1.0

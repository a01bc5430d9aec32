"""Data-aware shuffle-width sizing (r12, VERDICT r11 next-1).

The rule under test (session.py): width = clamp(cores,
ceil(input_bytes / 64 MB), 4096), with SPARK_GRAFT_SHUFFLE_PARTITIONS
as the explicit override and a core-count floor for unknown dirs —
so the driver's sf0.01/sf0.1 sessions are untouched while sf10+
blowups get the width the probe previously had to hand-set.
"""

from __future__ import annotations

import os

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark import session as S


def _mk_data(tmp_path, name: str, nbytes: int) -> str:
    d = tmp_path / name
    d.mkdir()
    f = d / "lineitem.parquet"
    # sparse file: getsize reports the apparent size without disk cost
    with open(f, "wb") as fh:
        fh.truncate(nbytes)
    S._DIR_BYTES_CACHE.pop(str(d), None)
    return str(d)


@pytest.fixture(autouse=True)
def _no_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")


def test_floor_is_cores_for_small_dirs(tmp_path):
    d = _mk_data(tmp_path, "sf_small", 5 << 20)  # 5 MB ≪ 64 MB target
    assert S.shuffle_width_for(d) == 32


def test_floor_is_cores_for_missing_dir():
    assert S.shuffle_width_for(None) == 32
    assert S.shuffle_width_for("/nonexistent/sfX") == 32


def test_scales_with_input_volume(tmp_path):
    # 18 GB ≈ the sf10 blowup → ceil(18*1024/64) = 288 partitions,
    # matching the probe's empirically good hand-set 256 (same decade)
    d = _mk_data(tmp_path, "sf_big", 18 << 30)
    assert S.shuffle_width_for(d) == 288  # 18 GiB / 64 MiB exactly


def test_cap_at_max_width(tmp_path):
    d = _mk_data(tmp_path, "sf_huge", 1 << 40)  # 1 TB → ceil = 16384
    assert S.shuffle_width_for(d) == S._MAX_SHUFFLE_WIDTH


def test_env_override_wins(tmp_path, monkeypatch):
    d = _mk_data(tmp_path, "sf_big2", 18 << 30)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "77")
    assert S.shuffle_width_for(d) == 77


def test_ceil_division(tmp_path):
    # one byte over an exact multiple rounds UP
    d = _mk_data(tmp_path, "sf_edge", (64 << 20) * 40 + 1)
    assert S.shuffle_width_for(d, cores=8) == 41


def test_size_shuffle_sets_both_confs(spark, tmp_path):
    d = _mk_data(tmp_path, "sf_conf", 18 << 30)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        w = S.size_shuffle(spark, d)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(w)
        assert (
            spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
            == str(w)
        )
        assert w == 288
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )


def test_tune_noop_at_driver_scale(spark):
    # tune(spark, sf0.01) must leave the driver-scale width at the
    # session's core floor — the driver contract is unchanged
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        S.tune(spark, "/root/testdata/sf0.01")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
            spark.sparkContext.defaultParallelism,
            S.shuffle_width_for(
                "/root/testdata/sf0.01",
                spark.sparkContext.defaultParallelism,
            ),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )


def test_get_spark_refuses_pyspark_below_floor(monkeypatch):
    monkeypatch.setattr(S.pyspark, "__version__", "3.5.1")
    with pytest.raises(RuntimeError, match=r"pyspark 3\.5\.1 is too old.*>= 4\.0"):
        S.get_spark()

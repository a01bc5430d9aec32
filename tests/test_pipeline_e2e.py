"""End-to-end pipeline test: both reference legs + change streams +
parity, over the golden fixtures (SURVEY.md §3)."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark import pipeline
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import tune
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc

FIX = "/root/repo/tests/fixtures"


def test_full_pipeline_two_ticks(spark, tmp_path):
    paths = pipeline.PipelinePaths(str(tmp_path))
    os.makedirs(paths.drop_dir)

    # two scheduled ticks of both source legs (A21)
    for _ in range(2):
        pipeline.tick_sql_path(spark, f"{FIX}/txns.csv", paths)
        pipeline.tick_nosql_path(spark, f"{FIX}/trades.ndjson", paths)

    # SQL path: no PK → 24 rows/tick accumulate (reference README.md:11)
    assert spark.read.parquet(paths.bronze_txns).count() == 48
    # NoSQL path: keyed upsert → table stays 8 rows (A8)
    assert spark.read.parquet(paths.keyed_trades).count() == 8

    # stage one change-file and drain both warehouse modes
    with open(f"{FIX}/change_events.ndjson") as f:
        events = [json.loads(line) for line in f]
    with open(f"{paths.drop_dir}/{uuid.uuid4().hex}.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    pipeline.run_change_streams(spark, paths)

    # append warehouse: reference semantics — INSERT+MODIFY accumulate
    assert spark.read.parquet(paths.warehouse_append).count() == 11
    # merge warehouse: corrected semantics — keyed, REMOVE applied
    assert cdc.read_merge_table(spark, paths.warehouse_merge).count() == 7

    # parity report (A20): source keyed table 8 vs merged 7 → lag 1
    parity = pipeline.parity_report(spark, paths).first()
    assert parity["source_rows"] == 8
    assert parity["target_rows"] == 7
    assert parity["row_lag"] == 1

    shutil.rmtree(tmp_path, ignore_errors=True)


def _group_jobs(spark, group: str) -> list[str]:
    """Descriptions of the jobs tagged with ``group`` ("" when unset),
    read after the listener bus has delivered every event."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for job in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = jsc.statusStore().job(job).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def test_write_path_launches_no_listing_or_inference_jobs(spark, tmp_path):
    """The jobs the write path used to spend resolving file lists and
    schemas the engine already knows stay gone: a merge drain over 40
    dropped files (above Spark's default parallel-listing threshold of
    32) lists on the driver, the merge table and keyed table reads run
    no schema inference, and the parity report runs at most 2 jobs."""
    tune(spark)
    sc = spark.sparkContext
    paths = pipeline.PipelinePaths(str(tmp_path))
    os.makedirs(paths.drop_dir)
    for i in range(40):
        with open(f"{paths.drop_dir}/{i:03d}.json", "w") as f:
            image = {"id": f"t{i}", "price": float(i), "shares": 1}
            event = {"eventName": "INSERT", "seq": i, "newImage": image, "removedId": None}
            f.write(json.dumps(event) + "\n")
    q = cdc.start_merge_stream(
        cdc.read_change_stream(spark, paths.drop_dir), paths.warehouse_merge, paths.ckpt_merge
    )
    assert q.awaitTermination(120)
    assert [p.numInputRows for p in q.recentProgress if p.numInputRows] == [40]
    drain = _group_jobs(spark, str(q.runId))
    assert drain, "the drain's jobs were not tagged with its runId"
    assert not [d for d in drain if d.startswith("Listing leaf files")], drain
    pipeline.tick_nosql_path(spark, f"{FIX}/trades.ndjson", paths)

    try:
        sc.setJobGroup("build", "read_merge_table + parity_report")
        cdc.read_merge_table(spark, paths.warehouse_merge)
        report = pipeline.parity_report(spark, paths)
        assert _group_jobs(spark, "build") == []
        sc.setJobGroup("parity", "parity_report collect")
        row = report.collect()[0]
        assert len(_group_jobs(spark, "parity")) <= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (row["source_rows"], row["target_rows"], row["row_lag"]) == (8, 40, -32)
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_run_change_streams_raises_when_a_drain_misses_its_deadline(monkeypatch, tmp_path):
    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    stuck = StuckQuery()

    def no_merge(*args):
        raise AssertionError("merge drain started after the append drain timed out")

    monkeypatch.setattr(cdc, "read_change_stream", lambda spark, drop_dir: None)
    monkeypatch.setattr(cdc, "start_append_stream", lambda *args: stuck)
    monkeypatch.setattr(cdc, "start_merge_stream", no_merge)
    with pytest.raises(TimeoutError, match="append change stream"):
        pipeline.run_change_streams(None, pipeline.PipelinePaths(str(tmp_path)))
    assert stuck.stopped

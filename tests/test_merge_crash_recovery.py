"""Crash safety for the incremental merge's versioned publication
(SURVEY.md §2.1 B36; the two-rename swap protocol and its repair state
machine were replaced by sources/versioned-style atomic pointer commits
after a review found a reader/writer race in the repair pass).

Each test injures one step of the publish protocol and asserts that
readers never observe a partial state and that checkpoint replay
converges to the exact table.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc


@pytest.fixture
def tdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _drop_file(drop_dir: str, events: list[dict]) -> None:
    with open(f"{drop_dir}/{uuid.uuid4().hex}__records.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _trade(i: int, seq: int, price: float) -> dict:
    return {
        "eventName": "INSERT",
        "seq": seq,
        "newImage": {"id": f"t{i}", "price": price, "shares": 1},
        "removedId": None,
    }


def _remove(i: int, seq: int) -> dict:
    return {"eventName": "REMOVE", "seq": seq, "newImage": None, "removedId": f"t{i}"}


def _build_table(spark, tdir: str) -> str:
    drop, table, ck = f"{tdir}/drop0", f"{tdir}/table", f"{tdir}/ck0"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(40)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 40
    return table


def test_crash_before_version_rename_recovers_on_replay(spark, tdir):
    """Crash while publishing (staging → _v{n} rename): the pointer
    still names the old version, readers see the intact table, and a
    restart with the same checkpoint replays the batch and converges."""
    table = _build_table(spark, tdir)
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_trade(3, 100, 999.0)])

    real_rename = os.rename

    def crashing_rename(src, dst, *a, **kw):
        if V._TMP_PREFIX in str(src):
            raise OSError("injected crash at version rename")
        return real_rename(src, dst, *a, **kw)

    os.rename = crashing_rename
    try:
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
            raise AssertionError(f"query should have failed: {q.exception()}")
    finally:
        os.rename = real_rename

    # injured state: pointer unchanged, readers see the old version
    assert V.current_version(table) == 1
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 3.0

    # restart with the same checkpoint: replay merges and publishes
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0


def test_crash_before_pointer_flip_recovers_on_replay(spark, tdir):
    """Crash after the version rename but before the pointer flip: the
    complete-but-unpublished _v2 is invisible to readers and is cleaned
    by the replay, which republishes the same content."""
    table = _build_table(spark, tdir)
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_trade(3, 100, 999.0)])

    real_replace = os.replace

    def crashing_replace(src, dst, *a, **kw):
        if dst.endswith(V._POINTER):
            raise OSError("injected crash at pointer flip")
        return real_replace(src, dst, *a, **kw)

    os.replace = crashing_replace
    try:
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
            raise AssertionError(f"query should have failed: {q.exception()}")
    finally:
        os.replace = real_replace

    # injured state: orphan _v2 on disk, pointer at 1, readers unaffected
    assert os.path.isdir(os.path.join(table, "_v2"))
    assert V.current_version(table) == 1
    assert cdc.read_merge_table(spark, table).filter("id = 't3'").collect()[0][
        "price"
    ] == 3.0

    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert V.current_version(table) == 2
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0


def test_reader_never_mutates_writer_state(spark, tdir):
    """The race the old repair protocol had: a reader while a writer's
    staging dir exists must neither fail nor delete anything."""
    table = _build_table(spark, tdir)
    staging = os.path.join(table, f"{V._TMP_PREFIX}2")
    os.makedirs(os.path.join(staging, "__bucket=0"))
    with open(os.path.join(staging, "__bucket=0", "part-inflight.parquet"), "wb") as f:
        f.write(b"writer in flight")
    assert cdc.read_merge_table(spark, table).count() == 40
    assert os.path.isfile(
        os.path.join(staging, "__bucket=0", "part-inflight.parquet")
    ), "reader deleted the writer's in-flight staging"


def test_remove_all_keys_leaves_readable_empty_table(spark, tdir):
    """REMOVEing every key empties the table; the _schema sidecar keeps
    it readable as a typed empty frame instead of failing inference."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 4

    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_remove(i, 100 + i) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 0
    assert "id" in got.columns and "price" in got.columns


def test_versions_vacuum_down_to_keep(spark, tdir):
    """Continuous batches must not accumulate versions: after several
    published batches only keep_versions remain on disk."""
    table = f"{tdir}/table"
    for i in range(4):
        drop, ck = f"{tdir}/drop{i}", f"{tdir}/ck{i}"
        os.makedirs(drop)
        _drop_file(drop, [_trade(i, 1000 + i, float(i))])
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
        q.awaitTermination(120)
    assert V.current_version(table) == 4
    assert len(V.list_versions(table)) <= 2
    assert cdc.read_merge_table(spark, table).count() == 4


def test_merge_after_all_keys_removed_does_not_wedge(spark, tdir):
    """Advisory r3 (high): after an all-keys-REMOVEd batch, the NEXT
    batch's internal read of the empty current version must use the
    _schema sidecar — plain inference raises UNABLE_TO_INFER_SCHEMA
    and checkpoint replay re-fails forever."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)

    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_remove(i, 100 + i) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 0

    # the wedge: merging NEW keys into the emptied table
    drop3, ck3 = f"{tdir}/drop3", f"{tdir}/ck3"
    os.makedirs(drop3)
    _drop_file(drop3, [_trade(100 + i, 200 + i, 9.5) for i in range(3)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop3), table, ck3)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 3
    assert {r["id"] for r in got.collect()} == {"t100", "t101", "t102"}


def test_schema_sidecar_refreshes_on_evolution(spark, tdir):
    """Advisory r3 (low): a batch whose payload carries a new column
    must refresh the _schema sidecar, or read_merge_table pins the
    first batch's schema forever and silently nulls the new column —
    proven here by EMPTYING the evolved table, where the sidecar is
    the only schema source left."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(3)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)

    # evolved source: newImage carries an extra 'venue' column
    from pyspark.sql import types as T

    img = cdc.CHANGE_EVENT_SCHEMA["newImage"].dataType
    evolved_img = T.StructType(
        list(img.fields) + [T.StructField("venue", T.StringType(), True)]
    )
    evolved_schema = T.StructType(
        [
            f if f.name != "newImage" else T.StructField("newImage", evolved_img, True)
            for f in cdc.CHANGE_EVENT_SCHEMA.fields
        ]
    )
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    ev = _trade(10, 100, 1.5)
    ev["newImage"]["venue"] = "NYSE"
    _drop_file(drop2, [ev])
    evolved = spark.readStream.schema(evolved_schema).json(drop2)
    q = cdc.start_merge_stream(evolved, table, ck2)
    q.awaitTermination(120)
    assert "venue" in cdc.read_merge_table(spark, table).columns

    # empty the table: the refreshed sidecar must now carry 'venue'
    drop3, ck3 = f"{tdir}/drop3", f"{tdir}/ck3"
    os.makedirs(drop3)
    _drop_file(
        drop3, [_remove(i, 200 + i) for i in range(3)] + [_remove(10, 210)]
    )
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop3), table, ck3)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 0
    assert "venue" in got.columns, "sidecar pinned the pre-evolution schema"


def _merge_one(spark, tdir: str, table: str, tag: str, events: list[dict], schema=None) -> None:
    drop, ck = f"{tdir}/drop_{tag}", f"{tdir}/ck_{tag}"
    os.makedirs(drop)
    _drop_file(drop, events)
    src = spark.readStream.schema(schema or cdc.CHANGE_EVENT_SCHEMA).json(drop)
    q = cdc.start_merge_stream(src, table, ck)
    assert q.awaitTermination(120)


def test_leftover_schema_tmp_breaks_neither_reads_nor_commits(spark, tdir):
    """A crash while replacing the _SCHEMA sidecar leaves a torn
    _SCHEMA.tmp; readers never open it and the next commit's replace
    truncates it."""
    from pyspark.sql import types as T

    table = _build_table(spark, tdir)
    sidecar = os.path.join(table, cdc._SCHEMA_FILE)
    with open(sidecar) as fh:
        schema_json = fh.read()
    with open(sidecar + ".tmp", "w") as fh:
        fh.write(schema_json[: len(schema_json) // 2])
    assert cdc.read_merge_table(spark, table).count() == 40

    # a batch with a new 'venue' column must replace the sidecar
    envelope = cdc.CHANGE_EVENT_SCHEMA
    img = T.StructType(
        envelope["newImage"].dataType.fields + [T.StructField("venue", T.StringType())]
    )
    evolved = T.StructType(
        [T.StructField("newImage", img) if f.name == "newImage" else f for f in envelope]
    )
    ev = _trade(3, 100, 999.0)
    ev["newImage"]["venue"] = "NYSE"
    _merge_one(spark, tdir, table, "next", [ev], evolved)
    assert not os.path.exists(sidecar + ".tmp")
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40 and "venue" in got.columns
    assert got.filter("id = 't3'").collect()[0]["venue"] == "NYSE"


def test_table_without_sidecar_reads_by_inference_and_gains_it(spark, tdir):
    """A merge table written before the _SCHEMA sidecar existed reads by
    schema inference, and its next commit writes the sidecar."""
    table = _build_table(spark, tdir)
    sidecar = os.path.join(table, cdc._SCHEMA_FILE)
    os.remove(sidecar)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40 and "price" in got.columns

    _merge_one(spark, tdir, table, "next", [_trade(3, 100, 999.0)])
    assert os.path.isfile(sidecar)
    got = cdc.read_merge_table(spark, table)
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0
    inferred = spark.read.parquet(
        os.path.join(table, f"_v{V.current_version(table)}")
    ).drop("__bucket")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in inferred.schema
    ]

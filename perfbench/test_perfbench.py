"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402
from perfbench.model import ChangeModel, KeyedModel  # noqa: E402
from perfbench.oracle import digest  # noqa: E402
from perfbench.trace import (  # noqa: E402
    EXTEND,
    Span,
    Tracer,
    clean_units,
    more_units,
    percentile,
    self_times,
    steal_share,
)


def _feed_bytes(seed: int) -> bytes:
    files = datagen.cdc_feed(seed, n_files=6, events_per_file=50, n_keys=40)
    return b"".join(datagen.encode_ndjson(f) for f in files)


def _tables_digest(tmp_path, seed: int) -> str:
    out = tmp_path / f"t{seed}"
    datagen.build_tables(str(out), sf=0.0005, seed=seed)
    h = hashlib.sha256()
    for t in datagen.TABLES:
        h.update((out / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    assert _feed_bytes(7) == _feed_bytes(7)
    assert _feed_bytes(7) != _feed_bytes(8)
    assert datagen.txns_csv(7, 0, 20) == datagen.txns_csv(7, 0, 20)
    assert datagen.txns_csv(7, 0, 20) != datagen.txns_csv(8, 0, 20)
    assert datagen.trade_docs(7, 3, 10, 50) == datagen.trade_docs(7, 3, 10, 50)
    assert datagen.trade_docs(7, 3, 10, 50) != datagen.trade_docs(8, 3, 10, 50)
    assert _tables_digest(tmp_path, 1) == _tables_digest(tmp_path, 1)
    assert _tables_digest(tmp_path, 1) != _tables_digest(tmp_path, 2)


def test_feed_has_every_event_kind_and_disorder():
    files = datagen.cdc_feed(3, n_files=40, events_per_file=200, n_keys=500)
    names = [e["eventName"] for f in files for e in f]
    assert {"INSERT", "MODIFY", "REMOVE", "UPSERT"} <= set(names)
    assert any(
        a["seq"] > b["seq"] for f in files for a, b in zip(f, f[1:])
    ), "no out-of-order seq within a file"
    # per key, seq never goes backwards from one file to the next
    last: dict[str, int] = {}
    for f in files:
        top: dict[str, int] = {}
        for e in f:
            k = (e.get("newImage") or {}).get("id") or e.get("removedId")
            assert e["seq"] > last.get(k, 0)
            top[k] = max(top.get(k, 0), e["seq"])
        last.update(top)


def _img(key: str, price: float) -> dict:
    return {"id": key, "price": price}


def test_latest_wins_model_hand_computed():
    f1 = [
        {"eventName": "MODIFY", "seq": 3, "newImage": _img("a", 3.0)},  # listed first, newer
        {"eventName": "INSERT", "seq": 1, "newImage": _img("a", 1.0)},
        {"eventName": "INSERT", "seq": 2, "newImage": _img("b", 2.0)},
        {"eventName": "UPSERT", "seq": 4, "newImage": _img("c", 9.0)},  # invalid
    ]
    f2 = [
        {"eventName": "REMOVE", "seq": 5, "removedId": "b"},
        {"eventName": "INSERT", "seq": 7, "newImage": _img("b", 7.0)},  # re-insert after REMOVE
        {"eventName": "REMOVE", "seq": 6, "removedId": "a"},
        {"eventName": "REMOVE", "seq": 8, "removedId": "zz"},  # unknown key: no-op
    ]
    m = ChangeModel()
    m.apply_files([f1])
    assert m.table == {"a": _img("a", 3.0), "b": _img("b", 2.0)}
    m.apply_files([f2])
    assert m.table == {"b": _img("b", 7.0)}
    assert m.appended == 4  # INSERT/MODIFY images only
    assert m.errors == 1

    k = KeyedModel()
    k.tick([{"id": "x", "v": 1}, {"id": "y", "v": 1}])
    k.tick([{"id": "x", "v": 2}])
    assert k.docs == {"x": {"id": "x", "v": 2}, "y": {"id": "y", "v": 1}}


def _span(sid, parent, start, end):
    s = Span("s", 1, sid, parent, start)
    s.end = end
    return s


def test_self_time_nested_spans():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),  # child
        _span(3, 1, 3.0, 6.0),  # overlaps sibling: union 1..6 counts once
        _span(4, 2, 1.5, 2.5),  # grandchild: only its parent's self time shrinks
        _span(5, 1, 9.0, 12.0),  # runs past the parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 5.0 - 1.0
    assert st[2] == 3.0 - 1.0
    assert st[3] == 3.0
    assert st[4] == 1.0
    assert st[5] == 3.0


def test_tracer_nesting_and_trace_ids():
    tr = Tracer()
    with tr.op("query"):
        with tr.span("build"):
            pass
    with tr.span("warmup"):
        with tr.op("query"):
            pass
    q1, q2 = tr.named("query")
    (b,) = tr.named("build")
    (w,) = tr.named("warmup")
    assert b.parent == q1.id and b.trace == q1.trace
    assert q1.parent is None and q2.trace != q1.trace
    assert q2.parent == w.id and q2.trace != w.trace


def test_percentile_reports_sample_count():
    assert percentile([5.0], 50) == {"value": 5.0, "n": 1}
    vals = [float(x) for x in range(1, 11)]
    assert percentile(vals, 50) == {"value": 5.0, "n": 10}
    assert percentile(vals, 90) == {"value": 9.0, "n": 10}
    assert percentile(list(reversed(vals)), 100) == {"value": 10.0, "n": 10}


def test_digest_is_order_insensitive_and_type_strict():
    rows = [(1, "a", 0.5), (2, "b", None)]
    assert digest(["k", "s", "x"], rows) == digest(["k", "s", "x"], rows[::-1])
    assert digest(["k", "s", "x"], rows) == digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows])
    assert digest(["k"], [(1,)]) != digest(["k"], [(1.0,)])


def test_steal_gating():
    assert steal_share((10, 100), (15, 200)) == 0.05
    assert clean_units([0.0, 0.2, 0.01, 0.06]) == [0, 2]
    assert clean_units([0.1, 0.2, 0.01]) == [0, 1, 2]  # fewer than two clean: all
    assert more_units([], 0.0, 10, min_units=2)
    assert more_units([0.0], 11.0, 10, min_units=2)  # too few units
    assert not more_units([0.0, 0.0, 0.0], 11.0, 10, min_units=2)
    assert more_units([0.1, 0.1, 0.0], 11.0, 10, min_units=2)  # one clean: go on
    assert not more_units([0.1, 0.1, 0.0], EXTEND * 10, 10, min_units=2)  # capped

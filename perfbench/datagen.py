"""Seeded input generators for the benchmark.

Two kinds of input:

- ``build_tables``: the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the column names,
  parquet physical types and value ranges of the testdata tables the
  registry queries are written against (one row group per file, naive
  microsecond timestamps).  Row counts scale linearly with ``sf``.
  The warehouse data does not depend on the run seed: it is built once
  per checkout and reused, like a warehouse that already exists.
- ``cdc_feed`` / ``trade_docs`` / ``txns_csv``: the change stream and
  the per-tick source extracts of the replication pipeline.  These are
  drawn from the run seed.

Everything here is pure numpy/pyarrow on a seeded ``Generator``, so the
same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def build_tables(out_dir: str, sf: float, seed: int = DATA_SEED) -> None:
    """Write the ten warehouse tables at scale factor ``sf`` into
    ``out_dir`` (sf 1 = 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(
        out_dir,
        "region",
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
    )
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
    )
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _EPOCH_1995
            + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
    )
    flag_status = np.array([("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F")])
    fs = flag_status[rng.integers(0, 6, n_line)]
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": fs[:, 0],
            "l_linestatus": fs[:, 1],
            "l_shipdate": _EPOCH_1995
            + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
        },
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
    )
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    # ~5% near-duplicates: an earlier document plus a marker token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(
        out_dir,
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec, dtype=np.int32),
        },
    )


# ------------------------------------------------------------------ CDC


def _trade_fields(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Random fields of ``n`` trade documents, drawn a column at a time."""
    return {
        "asks": np.round(rng.uniform(100, 120, (n, 3)), 2).tolist(),
        "bids": np.round(rng.uniform(100, 120, (n, 2)), 2).tolist(),
        "lag": rng.integers(0, 10, n).tolist(),
        "system": rng.integers(0, 2, n).tolist(),
        "price": np.round(rng.uniform(50, 250, n), 2).tolist(),
        "shares": rng.integers(1, 5000, n).tolist(),
        "ticker": rng.integers(0, 4, n).tolist(),
        "no_ticket": (rng.random(n) < 0.1).tolist(),
    }


def _trade(f: dict[str, list], j: int, key: str, version: int) -> dict:
    """Row ``j`` of ``f`` as one trades.json-shaped document
    (tests/fixtures/trades.ndjson)."""
    doc = {
        "id": key,
        "details": {
            "asks": f["asks"][j],
            "bids": f["bids"][j],
            "lag": f["lag"][j],
            "system": "AB"[f["system"][j]],
        },
        "price": f["price"][j],
        "shares": f["shares"][j],
        "ticker": ["ABC", "XYZ", "QRS", "LMN"][f["ticker"][j]],
        "ticket": f"T{version:06d}",
        "time": {"date": f"2012-03-{1 + version % 28:02d}T22:00:00.000Z"},
    }
    if f["no_ticket"][j]:
        del doc["ticket"]  # optional field, as in the reference docs
    return doc


def _key(i: int) -> str:
    return f"k{i:07d}"


def cdc_feed(
    seed: int,
    n_files: int,
    events_per_file: int,
    n_keys: int,
    zipf_s: float = 1.1,
    remove_frac: float = 0.01,
    invalid_frac: float = 0.005,
    disorder_frac: float = 0.03,
) -> list[list[dict]]:
    """Change events in drop-file order.

    Keys are Zipf-hot over ``n_keys``.  A key's first event (and its
    first event after a REMOVE) is an INSERT, later ones MODIFY; about
    ``remove_frac`` are REMOVEs and ``invalid_frac`` carry an unknown
    eventName.  ``seq`` is globally increasing in generation order; in
    about ``disorder_frac`` of positions two events of the same file
    swap lines, so a file lists some events out of ``seq`` order.  Every
    file is delivered whole to one micro-batch, and a key's events never
    go out of order across files, so the merged result is deterministic.
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** (-zipf_s)
    p /= p.sum()
    perm = rng.permutation(n_keys)  # hot keys spread over the key space
    live: set[int] = set()
    seq = 0
    files: list[list[dict]] = []
    for _ in range(n_files):
        keys = perm[rng.choice(n_keys, events_per_file, p=p)]
        rolls = rng.random(events_per_file)
        fields = _trade_fields(rng, events_per_file)
        events = []
        for j, (k, r) in enumerate(zip(keys.tolist(), rolls.tolist())):
            seq += 1
            if r < invalid_frac:
                events.append(
                    {"eventName": "UPSERT", "seq": seq, "newImage": _trade(fields, j, _key(k), seq)}
                )
            elif r < invalid_frac + remove_frac and k in live:
                live.discard(k)
                events.append({"eventName": "REMOVE", "seq": seq, "removedId": _key(k)})
            else:
                name = "MODIFY" if k in live else "INSERT"
                live.add(k)
                events.append({"eventName": name, "seq": seq, "newImage": _trade(fields, j, _key(k), seq)})
        for i in np.flatnonzero(rng.random(events_per_file) < disorder_frac).tolist():
            j = int(rng.integers(0, events_per_file))
            events[i], events[j] = events[j], events[i]
        files.append(events)
    return files


def encode_ndjson(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows).encode()


def trade_docs(seed: int, tick: int, n_docs: int, n_ids: int) -> list[dict]:
    """One NoSQL-leg extract: ``n_docs`` trade documents with distinct ids
    drawn from a fixed id space (so the keyed table saturates)."""
    rng = np.random.default_rng([seed, 1, tick])
    ids = sorted(rng.choice(n_ids, size=min(n_docs, n_ids), replace=False).tolist())
    fields = _trade_fields(rng, len(ids))
    return [_trade(fields, j, f"t{i:06d}", tick) for j, i in enumerate(ids)]


def txns_csv(seed: int, tick: int, n_rows: int) -> bytes:
    """One SQL-leg extract in the reference's messy txns.csv dialect
    (padded headers, quoted thousands separators, dd-Mon-yy dates)."""
    rng = np.random.default_rng([seed, 2, tick])
    months = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
    lines = [
        "Account No,DATE,TRANSACTION DETAILS,CHIP USED,VALUE DATE,"
        " WITHDRAWAL AMT , DEPOSIT AMT ,BALANCE AMT"
    ]
    balance = 1_000_000.0
    for _ in range(n_rows):
        d = f"{int(rng.integers(1, 29)):02d}-{months[int(rng.integers(0, 12))]}-17"
        amt = float(np.round(rng.uniform(10, 90_000), 2))
        withdraw = bool(rng.random() < 0.5)
        balance += -amt if withdraw else amt
        w = f'"  {amt:,.2f} "' if withdraw else ""
        dep = "" if withdraw else f'"  {amt:,.2f} "'
        chip = "TRUE" if rng.random() < 0.5 else "FALSE"
        lines.append(
            f"'4090006110{int(rng.integers(10, 99))},{d},INDO GIBL STL,{chip},{d},"
            f'{w},{dep},"  {balance:,.2f} "'
        )
    return ("\n".join(lines) + "\n").encode()

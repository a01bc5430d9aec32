"""Correctness gate for the batch workload.

A query's collected Spark output must match its DuckDB oracle on the
same data dir by the rules ``tools/replay_driver.py`` checks the
``__spark_entry__`` contract with: row count, column names, and its
order-insensitive ``value_hash`` over ``canon``-icalized cells.  Both
helpers are imported from there, not copied.

Oracle answers depend only on the data, so they are cached per data dir
in ``_oracles.json`` beside the tables.
"""

from __future__ import annotations

import json
import os
import tempfile

CACHE_NAME = "_oracles.json"


def digest(columns: list[str], rows) -> dict:
    """Row count, sorted column names and the driver's value hash of
    ``rows`` (sequences aligned with ``columns``)."""
    from tools.replay_driver import canon, value_hash

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = ["|".join(canon(r[i]) for i in order) for r in rows]
    return {"rows": len(lines), "columns": sorted(columns), "hash": value_hash(lines)}


def oracle_digests(ops, data_dir: str, names: list[str], tables: tuple[str, ...]) -> dict:
    """DuckDB answers for ``names`` on ``data_dir``, cached on disk."""
    path = os.path.join(data_dir, CACHE_NAME)
    cache: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    missing = [n for n in names if n not in cache]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=4")
        con.execute(f"SET temp_directory='{tempfile.gettempdir()}'")
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for n in missing:
            cur = con.execute(ops.REGISTRY[n].oracle)
            cols = [d[0] for d in cur.description]
            cache[n] = digest(cols, cur.fetchall())
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}

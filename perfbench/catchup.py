"""Catch-up probe for the ``cdc_replication`` load: how fast a pipeline
cycle's two drains publish an unbounded backlog on this host.

    python3 perfbench/catchup.py --files 200 --repeats 3

Sets up exactly like a ``cdc_replication`` run (same session, same
warm-up cycle), then ``--repeats`` times drops ``--files`` change files
at once and times the two drains of a pipeline cycle over them: the
append drain, then the merge drain.  Prints the events/s of each drain,
of the pair (events over the summed wall), and their medians.
``replication.FILES_PER_S`` is set from the pair's median.  Writes only
under ``.perfbench/`` like the runner.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, Context, _env, _stop  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--files", type=int, default=100)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from perfbench import replication
    from perfbench.trace import NullTracer

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    _env(work, trace=False)
    args.seconds = args.files * args.repeats / replication.FILES_PER_S
    ctx = Context(args, work, None, NullTracer())
    wl = replication.ReplicationWorkload(ctx)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark, tune

    spark = get_spark("perfbench-catchup")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tune(spark, None)
        ctx.spark = spark
        wl.setup()
        rates: dict[str, list[float]] = {"append": [], "merge": [], "pair": []}
        for r in range(args.repeats):
            for name in wl.measured_names[r * args.files : (r + 1) * args.files]:
                wl._drop(name, time.perf_counter())
            walls = {}
            for kind in ("append", "merge"):
                wl._drain(kind, measured=True)
                d = wl.drains[kind][-1]
                rows = sum(b["rows"] for b in d["batches"])
                walls[kind] = d["wall"]
                rates[kind].append(rows / d["wall"])
                print(
                    f"{kind} drain {r}: {d['files']} files, {rows} events, {d['wall']:.2f} s, "
                    f"{len(d['batches'])} micro-batches, {rates[kind][-1]:.0f} events/s",
                    flush=True,
                )
            rates["pair"].append(rows / sum(walls.values()))
        print(
            "median events/s: "
            + ", ".join(f"{k} {statistics.median(v):.0f}" for k, v in rates.items())
            + f"; failed={wl.failed}"
        )
    finally:
        _stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())

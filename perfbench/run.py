"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics (tracing off); ``--trace 1`` runs the same workload with spans,
Spark job groups and the event log on and prints the per-layer metrics.
Everything the run writes stays under ``.perfbench/`` in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cdc_from_sql_and_nosql_to_data_warehouse_spark"
CORES = 4
DRIVER_MEM = "3g"
MIN_FREE_BYTES = 2 << 30

# workload -> (kind, warehouse scale factor or None)
WORKLOADS = {
    "warehouse_sql": ("batch", 0.05),
    "cdc_replication": ("cdc", None),
}


class Context:
    def __init__(self, args, work_dir: str, data_dir: str | None, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.tracer = tracer
        self.cores = CORES
        self.spark = None
        from perfbench.datagen import TABLES

        self.tables = TABLES


def _env(work: str, trace: bool) -> None:
    """Everything the session writes goes under ``work``; the event log
    is switched on through spark-submit confs, leaving get_spark as is."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _data_dir(work: str, sf: float) -> str:
    """The warehouse tables at ``sf``, built once per checkout (marker
    file written last; a half-built dir is rebuilt)."""
    from perfbench.datagen import build_tables

    d = os.path.join(work, "data", f"sf{sf}")
    if os.path.exists(os.path.join(d, "_BUILT")):
        return d
    if shutil.disk_usage(work).free < MIN_FREE_BYTES:
        raise SystemExit(f"perfbench: less than {MIN_FREE_BYTES >> 30} GiB free under {work}")
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    build_tables(tmp, sf)
    os.rename(tmp, d)
    with open(os.path.join(d, "_BUILT"), "w") as fh:
        fh.write("ok\n")
    return d


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import (
        EventLog,
        NullTracer,
        Tracer,
        cpu_jiffies,
        find_event_log,
        steal_share,
    )

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    traced = bool(args.trace)
    _env(work, traced)
    kind, sf = WORKLOADS[args.workload]
    data_dir = _data_dir(work, sf) if sf is not None else None
    tracer = Tracer() if traced else NullTracer()
    ctx = Context(args, work, data_dir, tracer)
    if kind == "batch":
        from perfbench.batch import WAREHOUSE, QueryWorkload

        wl = QueryWorkload(ctx, WAREHOUSE)
    else:
        from perfbench.replication import ReplicationWorkload

        wl = ReplicationWorkload(ctx)  # encodes the change feed (untimed)

    spark = None
    try:
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        with tracer.op("setup"):
            with tracer.span("session.start"):
                import cdc_from_sql_and_nosql_to_data_warehouse_spark.operators  # noqa: F401
                import cdc_from_sql_and_nosql_to_data_warehouse_spark.pipeline  # noqa: F401
                from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import (
                    get_spark,
                    tune,
                )

                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                tune(spark, data_dir)
            ctx.spark = spark
            wl.setup()
        setup_s = time.perf_counter() - t0
        j1 = cpu_jiffies()
        wl.measure(args.seconds)
        steal = {"setup": steal_share(j0, j1), "measure": steal_share(j1, cpu_jiffies())}
        e2e, counts = wl.end_to_end()
        wl.verify()
        peak_rss = _jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            _stop(spark)

    if traced:
        log = EventLog(find_event_log(os.path.join(work, "eventlog"), app_id)) if kind == "batch" else None
        metrics = _per_layer(wl, kind, log, tracer, e2e, setup_s, peak_rss, steal)
        tracer.write(os.path.join(work, "traces", f"{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = _checked(e2e | {"setup_s": (setup_s, "s")}, "end_to_end")
    print(
        f"perfbench: {args.workload} seed={args.seed} {counts} attempted={wl.attempted} "
        f"failed={wl.failed} steal={ {k: round(v, 3) for k, v in steal.items()} }",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": bool(wl.correct and wl.failed == 0),
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
            }
        )
    )
    return 0


def _declared(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _checked(metrics: dict, section: str) -> dict:
    declared = _declared(section)
    got = {k: u for k, (_v, u) in metrics.items()}
    if got != declared:
        raise KeyError(f"metrics differ from BENCHMARK.json {section}: {got} != {declared}")
    return metrics


def _per_layer(
    wl, kind: str, log, tracer, e2e: dict, setup_s: float, peak_rss: float, steal: dict
) -> dict:
    """Every declared per-layer metric; a layer the workload does not
    exercise reports 0."""
    m = {name: (0.0, unit) for name, unit in _declared("per_layer").items()}
    m["session.peak_rss_mb"] = (peak_rss, "MB")
    m["session.start_s"] = (tracer.named("session.start")[0].dur, "s")
    m["session.warmup_s"] = (tracer.named("session.warmup")[0].dur, "s")
    m["sources.load_table_s"] = (sum(s.dur for s in tracer.named("sources.load_table")), "s")
    m["trace.setup_s"] = (setup_s, "s")
    m["trace.pass_s"] = e2e["pass_s"]
    m["host.steal_pct"] = (100.0 * steal["measure"], "%")
    m.update(wl.per_layer(log) if kind == "batch" else wl.per_layer())
    return _checked(m, "per_layer")


if __name__ == "__main__":
    sys.exit(main())

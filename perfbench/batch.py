"""Closed-loop query workload: ``warehouse_sql``.

One client makes passes over a fixed query list; the seed permutes the
order within each pass.  A query call is the registry function (the
operator *build*: Python plus any eager Spark actions it runs) followed
by a write to the ``noop`` sink (*execute*).  The traced run also forces
the physical plan in between (*plan*) and tags build and execute with
their own Spark job groups.
"""

from __future__ import annotations

import random
import re
import statistics
import sys
import time

from perfbench.oracle import digest, oracle_digests
from perfbench.trace import (
    EventLog,
    clean_units,
    cpu_jiffies,
    median,
    more_units,
    steal_share,
)

# TPC-H-shaped analyst queries: scans, shuffles and joins; near-zero
# driver-side build.
WAREHOUSE = (
    "q_pricing_summary",
    "q_star_join",
    "q_market_share",
    "q_min_cost_supplier",
    "q_percentile",
    "q_asof_join",
    "q_upsert_latest_wins",
)

_PLAN_TOKENS = {
    "exchanges": r"\bExchange\b",
    "python_nodes": r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas)\b",
    "checkpoints": r"\bExistingRDD\b",
}


class QueryWorkload:
    def __init__(self, ctx, queries: tuple[str, ...]) -> None:
        self.ctx = ctx
        self.queries = queries
        self.rng = random.Random(ctx.seed)
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.pass_walls: list[float] = []
        self.pass_steal: list[float] = []
        self.walls: dict[str, list[tuple[int, float]]] = {q: [] for q in queries}
        self.groups: list[tuple[str, str]] = []  # (phase, Spark job group)
        self.plan_counts: list[dict] = []
        self.build_jobs: list[int] = []
        self.exec_jobs: list[int] = []

    # ------------------------------------------------------------ phases

    def setup(self) -> None:
        """First table loads, then one warm-up pass that collects each
        output, which ``verify`` checks after the set-up clock has
        stopped."""
        from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops
        from cdc_from_sql_and_nosql_to_data_warehouse_spark import plans
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import readers

        self.ops = ops
        self.plans = plans
        spark, tr, d = self.ctx.spark, self.ctx.tracer, self.ctx.data_dir
        with tr.span("sources.load_tables"):
            for t in self.ctx.tables:
                with tr.span("sources.load_table", table=t):
                    readers.load_table(spark, d, t)
        with tr.span("session.warmup"):
            self.outputs = {q: self._call(q, pass_no=-1, collect=True) for q in self.queries}

    def _call(self, q: str, pass_no: int, collect: bool = False):
        """One query call: build, then the noop write, or with ``collect``
        a collect.  Returns the collected output or ``True``; ``None`` on
        failure."""
        spark, tr, d = self.ctx.spark, self.ctx.tracer, self.ctx.data_dir
        sc = spark.sparkContext
        traced = tr.enabled and pass_no >= 0
        try:
            with tr.op("query", query=q, pass_no=pass_no):
                if traced:
                    group = f"build:{pass_no}:{q}"
                    sc.setJobGroup(group, group)
                    self.groups.append(("build", group))
                with tr.span("operators.build", query=q, pass_no=pass_no):
                    df = self.ops.REGISTRY[q].fn(spark, d)
                if traced:
                    self.build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
                    with tr.span("plans.plan", query=q, pass_no=pass_no):
                        plan = self.plans.formatted_plan(df)
                    self.plan_counts.append(
                        {k: len(re.findall(p, plan)) for k, p in _PLAN_TOKENS.items()}
                    )
                    group = f"exec:{pass_no}:{q}"
                    sc.setJobGroup(group, group)
                    self.groups.append(("exec", group))
                with tr.span("operators.exec", query=q, pass_no=pass_no):
                    if collect:
                        return df.columns, df.collect()
                    df.write.format("noop").mode("overwrite").save()
                if traced:
                    self.exec_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
                    sc.setLocalProperty("spark.jobGroup.id", None)
            return True
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            print(f"perfbench: {q} failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
            return None

    def measure(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have elapsed (at least two),
        longer while the host steals CPU (``trace.more_units``)."""
        t_start = time.perf_counter()
        p = 0
        while more_units(self.pass_steal, time.perf_counter() - t_start, seconds, min_units=2):
            order = list(self.queries)
            self.rng.shuffle(order)
            j0 = cpu_jiffies()
            t0 = time.perf_counter()
            for q in order:
                a = time.perf_counter()
                ok = self._call(q, pass_no=p)
                self.attempted += 1
                if ok is not None:
                    self.walls[q].append((p, time.perf_counter() - a))
                else:
                    self.failed += 1
            self.pass_walls.append(time.perf_counter() - t0)
            self.pass_steal.append(steal_share(j0, cpu_jiffies()))
            p += 1

    def verify(self) -> None:
        """Untimed: each warm-up output against its DuckDB oracle."""
        expected = oracle_digests(self.ops, self.ctx.data_dir, list(self.queries), self.ctx.tables)
        for q in self.queries:
            self.attempted += 1
            out = self.outputs[q]
            got = None if out is None else digest(*out)
            if got != expected[q]:
                if got is not None:
                    print(f"perfbench: {q} wrong result: {got} != {expected[q]}", file=sys.stderr)
                self.failed += 1
                self.correct = False

    # ----------------------------------------------------------- metrics

    def end_to_end(self) -> tuple[dict, dict]:
        """``pass_s`` sums each query's median call wall over the clean
        passes (``trace.clean_units``): one pass with per-query outliers
        removed.  The latency percentiles are taken across the queries'
        median call walls, interpolated, so a query mix's typical and
        slow query are read the same way every run."""
        keep = set(clean_units(self.pass_steal))
        kept = {q: [w for p, w in ws if p in keep] for q, ws in self.walls.items()}
        per_query = {q: median(ws) for q, ws in kept.items() if ws}
        deciles = statistics.quantiles(list(per_query.values()), n=10, method="inclusive")
        return {
            "pass_s": (sum(per_query.values()), "s"),
            "latency_p50_s": (deciles[4], "s"),
            "latency_p90_s": (deciles[8], "s"),
        }, {
            "passes": [round(x, 2) for x in self.pass_walls],
            "pass_steal": [round(x, 3) for x in self.pass_steal],
            "clean_passes": len(keep),
            "query_medians": {q: round(w, 3) for q, w in per_query.items()},
            "calls": sum(len(ws) for ws in self.walls.values()),
        }

    def per_layer(self, event_log: EventLog | None) -> dict:
        tr = self.ctx.tracer
        n_pass = len(self.pass_walls)
        cores = self.ctx.cores

        def per_pass(name: str) -> float:
            return sum(s.dur for s in _measured(tr, name)) / n_pass

        m = {
            "operators.build_s": (per_pass("operators.build"), "s"),
            "plans.plan_s": (per_pass("plans.plan"), "s"),
            "operators.exec_s": (per_pass("operators.exec"), "s"),
            "operators.build_jobs": (sum(self.build_jobs) / n_pass, "count"),
            "operators.exec_jobs": (sum(self.exec_jobs) / n_pass, "count"),
        }
        for k in _PLAN_TOKENS:
            m[f"plans.{k}"] = (sum(c[k] for c in self.plan_counts) / n_pass, "count")
        if event_log is not None:
            exec_groups = [g for phase, g in self.groups if phase == "exec"]
            all_groups = [g for _phase, g in self.groups]
            tot = _sum_groups(event_log, exec_groups)
            every = _sum_groups(event_log, all_groups)
            exec_wall = sum(s.dur for s in _measured(tr, "operators.exec"))
            m.update(
                {
                    "sources.scan_bytes": (every["input_bytes"] / n_pass, "B"),
                    "sources.scan_rows": (every["input_rows"] / n_pass, "count"),
                    "operators.exec_stages": (tot["stages"] / n_pass, "count"),
                    "operators.exec_tasks": (tot["tasks"] / n_pass, "count"),
                    "operators.task_busy_ratio": (
                        tot["run_ms"] / 1000.0 / max(exec_wall * cores, 1e-9),
                        "ratio",
                    ),
                    "operators.task_skew": (event_log.worst_skew(exec_groups), "ratio"),
                    "operators.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n_pass, "B"),
                    "operators.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n_pass, "B"),
                    "operators.spill_bytes": (every["spill_bytes"] / n_pass, "B"),
                    "operators.gc_s": (every["gc_ms"] / 1000.0 / n_pass, "s"),
                    "operators.failed_tasks": (every["failed_tasks"], "count"),
                }
            )
        return m


def _measured(tr, name: str) -> list:
    """Spans called ``name`` from measured passes (not the warm-up)."""
    return [s for s in tr.named(name) if s.attrs["pass_no"] >= 0]


def _sum_groups(log: EventLog, groups: list[str]) -> dict:
    out = {"stages": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "gc_ms": 0,
           "input_bytes": 0, "input_rows": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0}
    for g in groups:
        rec = log.groups.get(g)
        if rec is None:
            continue
        for k in out:
            out[k] += len(rec[k]) if k == "stages" else rec[k]
    return out

"""Open-loop CDC replication workload: ``cdc_replication``.

During set-up the seeded generator encodes every change file into a
staging dir.  While the run measures, a generator thread only renames
each file into the drop dir at its due time (fixed rate, independent of
how fast the pipeline keeps up), so a stream never sees a half-written
file.  The main thread runs closed-loop pipeline cycles:

    tick_sql_path -> tick_nosql_path -> append drain -> merge drain
    -> parity_report

Drains are ``start_append_stream`` / ``start_merge_stream`` with
availableNow, in the order ``pipeline.run_change_streams`` uses, each
awaited with a deadline.  A file's freshness is the time from its
scheduled drop to the end of the merge drain that published it; which
drain published which file is read from the stream checkpoint's source
log.  ``model.ChangeModel`` replays the same files in plain Python and
every count and the final tables must match it.

The load is fixed: ``FILES_PER_S`` files of ``EVENTS_PER_FILE`` events,
2000 events/s.  On a 4-core host ``catchup.py`` measured a cycle's two
drains publishing a 200-file backlog at 4.7k events/s (append 12.9k,
merge 7.2k); the load is a little under half of the pair's rate.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time

from perfbench import datagen
from perfbench.model import ChangeModel, KeyedModel, normalize_trade
from perfbench.trace import (
    EXTEND,
    clean_units,
    cpu_jiffies,
    median,
    more_units,
    percentile,
    steal_share,
)

# Frozen open-loop load: about half the drains' measured catch-up rate.
FILES_PER_S = 10
EVENTS_PER_FILE = 200
N_KEYS = 5000
WARMUP_FILES = 20
TICK_CSV_ROWS = 500
TICK_DOCS = 200
TICK_IDS = 2000
N_TICK_INPUTS = 64
DRAIN_TIMEOUT_S = 30


class ReplicationWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.correct = True
        root = os.path.join(ctx.work_dir, "cdc_run")
        shutil.rmtree(root, ignore_errors=True)
        self.pipeline_dir = os.path.join(root, "pipeline")
        self.staging = os.path.join(root, "staging")
        self.inputs = os.path.join(root, "inputs")
        self.errors_append = os.path.join(root, "errors_append")
        self.errors_merge = os.path.join(root, "errors_merge")
        self._generate()
        self.append_model = ChangeModel()
        self.merge_model = ChangeModel()
        self.keyed = KeyedModel()
        self.bronze_rows = 0
        self.seen = {"append": set(), "merge": set()}
        self.dropped: dict[str, tuple[float, float]] = {}  # file -> (due, actual)
        self.freshness: list[tuple[int, float]] = []  # (cycle, seconds)
        self.cycle_walls: list[float] = []
        self.cycle_steal: list[float] = []
        self.merge_error_rows = 0
        self.ticks = 0
        # per-call records for the per-layer metrics
        self.drains: dict[str, list[dict]] = {"append": [], "merge": []}
        self.calls: dict[str, list[float]] = {}
        self.prev_files: dict[tuple[int, int], int] = {}
        self.versioned: list[dict] = []

    # ------------------------------------------------------------ inputs

    def _generate(self) -> None:
        """Untimed: encode the change files and tick extracts."""
        seed, seconds = self.ctx.seed, self.ctx.seconds
        # enough files for a run extended to EXTEND x seconds
        n_measured = max(1, int(EXTEND * seconds * FILES_PER_S))
        feed = datagen.cdc_feed(seed, WARMUP_FILES + n_measured, EVENTS_PER_FILE, N_KEYS)
        os.makedirs(self.staging)
        os.makedirs(self.inputs)
        self.files: dict[str, list[dict]] = {}
        self.file_bytes: dict[str, int] = {}
        self.order: list[str] = []
        base = time.time()
        for i, events in enumerate(feed):
            name = f"change-{i:06d}.json"
            path = os.path.join(self.staging, name)
            data = datagen.encode_ndjson(events)
            with open(path, "wb") as fh:
                fh.write(data)
            # distinct, increasing mtimes: the file source orders by
            # modification time, and a key's files must apply in order
            os.utime(path, (base + i * 0.001, base + i * 0.001))
            self.files[name] = events
            self.file_bytes[name] = len(data)
            self.order.append(name)
        self.warmup_names = self.order[:WARMUP_FILES]
        self.measured_names = self.order[WARMUP_FILES:]
        self.measured_set = set(self.measured_names)
        self.tick_docs = []
        for t in range(N_TICK_INPUTS):
            docs = datagen.trade_docs(seed, t, TICK_DOCS, TICK_IDS)
            with open(os.path.join(self.inputs, f"trades-{t}.json"), "wb") as fh:
                fh.write(datagen.encode_ndjson(docs))
            with open(os.path.join(self.inputs, f"txns-{t}.csv"), "wb") as fh:
                fh.write(datagen.txns_csv(seed, t, TICK_CSV_ROWS))
            self.tick_docs.append(docs)

    def _drop(self, name: str, due: float) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(self.paths.drop_dir, name))
        self.dropped[name] = (due, time.perf_counter())

    # ------------------------------------------------------------ phases

    def setup(self) -> None:
        """Warm-up: one pipeline cycle over the warm-up files."""
        from cdc_from_sql_and_nosql_to_data_warehouse_spark import pipeline
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned
        from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc

        self.pipeline = pipeline
        self.versioned_tables = versioned
        self.cdc = cdc
        self.paths = pipeline.PipelinePaths(self.pipeline_dir)
        os.makedirs(self.paths.drop_dir)
        with self.ctx.tracer.span("session.warmup"):
            for name in self.warmup_names:
                self._drop(name, time.perf_counter())
            self._cycle(measured=False)
        self.prev_files = _inodes(self.paths.warehouse_merge)
        self.version0 = versioned.current_version(self.paths.warehouse_merge)

    def _timed(self, name: str, fn, *args):
        a = time.perf_counter()
        with self.ctx.tracer.span(name):
            out = fn(*args)
        self.calls.setdefault(name, []).append(time.perf_counter() - a)
        return out

    def _op(self, name: str, fn, *args) -> bool:
        self.attempted += 1
        try:
            self._timed(name, fn, *args)
            return True
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            print(f"perfbench: {name} failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
            self.failed += 1
            return False

    def _cycle(self, measured: bool) -> None:
        spark, P = self.ctx.spark, self.paths
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        with self.ctx.tracer.op("cycle", measured=measured):
            t = self.ticks % N_TICK_INPUTS
            csv = os.path.join(self.inputs, f"txns-{t}.csv")
            docs = os.path.join(self.inputs, f"trades-{t}.json")
            if self._op("pipeline.tick_sql_path", self.pipeline.tick_sql_path, spark, csv, P):
                self.bronze_rows += TICK_CSV_ROWS
            if self._op("pipeline.tick_nosql_path", self.pipeline.tick_nosql_path, spark, docs, P):
                self.keyed.tick(self.tick_docs[t])
            self.ticks += 1
            self._drain("append", measured)
            self._drain("merge", measured)
            self.attempted += 1
            try:
                row = self._timed(
                    "pipeline.parity_report",
                    lambda: self.pipeline.parity_report(spark, P).collect()[0],
                )
                want = (len(self.keyed.docs), len(self.merge_model.table))
                got = (row["source_rows"], row["target_rows"])
                if got != want or row["row_lag"] != want[0] - want[1]:
                    self._wrong(f"parity {got} != {want}")
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: parity_report failed: {e}"[:2000], file=sys.stderr)
                self.failed += 1
        if measured:
            self.cycle_walls.append(time.perf_counter() - t0)
            self.cycle_steal.append(steal_share(j0, cpu_jiffies()))

    def _wrong(self, msg: str) -> None:
        print(f"perfbench: wrong result: {msg}", file=sys.stderr)
        self.failed += 1
        self.correct = False

    def _drain(self, kind: str, measured: bool) -> None:
        spark, P, cdc = self.ctx.spark, self.paths, self.cdc
        ckpt = P.ckpt_append if kind == "append" else P.ckpt_merge
        pending = len(self.dropped) - len(self.seen[kind])
        self.attempted += 1
        a = time.perf_counter()
        with self.ctx.tracer.span(f"streaming.{kind}"):
            ok, progress = False, []
            try:
                src = cdc.read_change_stream(spark, P.drop_dir)
                if kind == "append":
                    q = cdc.start_append_stream(
                        src, P.warehouse_append, ckpt, errors_dir=self.errors_append
                    )
                else:
                    q = cdc.start_merge_stream(
                        src, P.warehouse_merge, ckpt, errors_dir=self.errors_merge
                    )
                try:
                    ok = bool(q.awaitTermination(DRAIN_TIMEOUT_S))
                finally:
                    if not ok:
                        q.stop()
                if not ok:
                    print(f"perfbench: {kind} drain missed its {DRAIN_TIMEOUT_S}s deadline", file=sys.stderr)
                progress = list(q.recentProgress)
            except Exception as e:  # noqa: BLE001 - counted, the run goes on
                print(f"perfbench: {kind} drain failed: {e}"[:2000], file=sys.stderr)
        end = time.perf_counter()
        if not ok:
            self.failed += 1
        new = sorted(_consumed(ckpt) - self.seen[kind])
        self.seen[kind].update(new)
        model = self.append_model if kind == "append" else self.merge_model
        model.apply_files([self.files[n] for n in new])
        if measured:
            self.drains[kind].append(
                {
                    "wall": end - a,
                    "files": len(new),
                    "backlog": pending,
                    "batches": [
                        {"rows": p.numInputRows, "ms": dict(p.durationMs)}
                        for p in progress
                        if p.numInputRows
                    ],
                }
            )
        if kind == "merge":
            for n in new:
                due = self.dropped[n][0]
                if n in self.measured_set:
                    self.freshness.append((len(self.cycle_walls), end - due))
            if self.ctx.tracer.enabled and measured:
                self._walk_versions(new)

    def _walk_versions(self, new: list[str]) -> None:
        """After a merge drain: bytes of new inodes (hard links to
        untouched buckets are not new), total and live footprint."""
        table = self.paths.warehouse_merge
        total = _inodes(table)
        written = sum(size for key, size in total.items() if key not in self.prev_files)
        self.prev_files = total
        version = self.versioned_tables.current_version(table)
        live_dir = os.path.join(table, f"_v{version}")
        live = _inodes(live_dir, suffix=".parquet")
        self.versioned.append(
            {
                "version": version,
                "written": written,
                "input": sum(self.file_bytes[n] for n in new),
                "space_amp": sum(total.values()) / max(1, sum(live.values())),
                "files": len(live),
                "rows": _parquet_rows(live_dir),
            }
        )

    def measure(self, seconds: float) -> None:
        """Open-loop drops beside closed-loop cycles for ``seconds``
        (longer while the host steals CPU, ``trace.more_units``), then
        one more cycle that publishes everything dropped."""
        t0 = time.perf_counter()
        stop = threading.Event()

        def generator() -> None:
            for i, name in enumerate(self.measured_names):
                due = t0 + i / FILES_PER_S
                if stop.wait(max(0.0, due - time.perf_counter())):
                    return
                self._drop(name, due)

        th = threading.Thread(target=generator, name="perfbench-generator")
        th.start()
        try:
            while more_units(self.cycle_steal, time.perf_counter() - t0, seconds, min_units=1):
                self._cycle(measured=True)
        finally:
            stop.set()
            th.join()
        self._cycle(measured=True)

    def verify(self) -> None:
        """Untimed: final tables and channels against the model."""
        spark, P = self.ctx.spark, self.paths
        self.merge_error_rows = _lines(spark, self.errors_merge)
        checks = {
            "all dropped files appended": (self.seen["append"], set(self.dropped)),
            "all dropped files merged": (self.seen["merge"], set(self.dropped)),
            "append rows": (
                spark.read.parquet(P.warehouse_append).count(),
                self.append_model.appended,
            ),
            "append error rows": (_lines(spark, self.errors_append), self.append_model.errors),
            "merge error rows": (self.merge_error_rows, self.merge_model.errors),
            "bronze rows": (spark.read.parquet(P.bronze_txns).count(), self.bronze_rows),
            "merge table": (
                _rows_by_id(self.cdc.read_merge_table(spark, P.warehouse_merge).collect()),
                {k: _canon(normalize_trade(v)) for k, v in self.merge_model.table.items()},
            ),
            "keyed table": (
                _rows_by_id(spark.read.parquet(P.keyed_trades).collect()),
                {k: _canon(normalize_trade(v)) for k, v in self.keyed.docs.items()},
            ),
        }
        for name, (got, want) in checks.items():
            self.attempted += 1
            if got != want:
                shown = (len(got), len(want)) if isinstance(got, (set, dict)) else (got, want)
                self._wrong(f"{name}: {shown[0]} != {shown[1]}")

    # ----------------------------------------------------------- metrics

    def end_to_end(self) -> tuple[dict, dict]:
        """Cycle wall and file freshness over the clean cycles
        (``trace.clean_units``)."""
        keep = set(clean_units(self.cycle_steal))
        fresh = [f for c, f in self.freshness if c in keep]
        p50 = percentile(fresh, 50)
        p90 = percentile(fresh, 90)
        return {
            "pass_s": (median([w for i, w in enumerate(self.cycle_walls) if i in keep]), "s"),
            "latency_p50_s": (p50["value"], "s"),
            "latency_p90_s": (p90["value"], "s"),
        }, {
            "cycles": len(self.cycle_walls),
            "cycle_steal": [round(x, 3) for x in self.cycle_steal],
            "clean_cycles": len(keep),
            "latency_samples": p50["n"],
        }

    def per_layer(self) -> dict:
        merge = self.drains["merge"]
        batches = [b for d in merge for b in d["batches"]]

        def phase(key: str) -> float:
            vals = [b["ms"].get(key, 0) for b in batches]
            return float(statistics.median(vals)) if vals else 0.0

        def call(name: str) -> float:
            # measured cycles only: the warm-up cycle made the first call
            vals = self.calls.get(name, [])[1:]
            return median(vals) if vals else 0.0

        rows = sum(b["rows"] for b in batches)
        merge_wall = sum(d["wall"] for d in merge)
        lags = [1000.0 * (act - due) for due, act in self.dropped.values()]
        v = self.versioned
        return {
            "streaming.append_s": (median([d["wall"] for d in self.drains["append"]]), "s"),
            "streaming.merge_s": (median([d["wall"] for d in merge]), "s"),
            "streaming.micro_batches": (len(batches) / max(1, len(merge)), "count"),
            "streaming.batch_rows": (
                float(statistics.median([b["rows"] for b in batches])) if batches else 0.0,
                "count",
            ),
            "streaming.merge_rows_per_s": (rows / merge_wall if merge_wall else 0.0, "1/s"),
            "streaming.add_batch_ms": (phase("addBatch"), "ms"),
            "streaming.trigger_execution_ms": (phase("triggerExecution"), "ms"),
            "streaming.query_planning_ms": (phase("queryPlanning"), "ms"),
            "streaming.wal_commit_ms": (phase("walCommit"), "ms"),
            "streaming.commit_offsets_ms": (phase("commitOffsets"), "ms"),
            "streaming.latest_offset_ms": (phase("latestOffset"), "ms"),
            "streaming.error_rows": (self.merge_error_rows, "count"),
            "pipeline.tick_sql_path_s": (call("pipeline.tick_sql_path"), "s"),
            "pipeline.tick_nosql_path_s": (call("pipeline.tick_nosql_path"), "s"),
            "pipeline.parity_report_s": (call("pipeline.parity_report"), "s"),
            "sources.versioned.versions_published": (
                v[-1]["version"] - self.version0 if v else 0,
                "count",
            ),
            "sources.versioned.write_amp": (
                sum(x["written"] for x in v) / max(1, sum(x["input"] for x in v)),
                "ratio",
            ),
            "sources.versioned.space_amp": (
                median([x["space_amp"] for x in v]) if v else 0.0,
                "ratio",
            ),
            "sources.versioned.files_per_version": (
                median([x["files"] for x in v]) if v else 0.0,
                "count",
            ),
            "sources.versioned.live_rows": (v[-1]["rows"] if v else 0, "count"),
            "generator.lag_ms": (median(lags), "ms"),
            "generator.backlog_files": (median([d["backlog"] for d in merge]), "count"),
        }


def _inodes(root_dir: str, suffix: str = "") -> dict[tuple[int, int], int]:
    """(inode, mtime) -> size of the files under ``root_dir``: a hard
    link counts once, and an inode number reused by a new file after a
    vacuum reads as new."""
    out = {}
    for root, _dirs, files in os.walk(root_dir):
        for f in files:
            if f.endswith(suffix):
                st = os.stat(os.path.join(root, f))
                out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def _parquet_rows(root_dir: str) -> int:
    """Rows in the parquet files under ``root_dir``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _dirs, files in os.walk(root_dir)
        for f in files
        if f.endswith(".parquet") and not f.startswith(".")
    )


def _consumed(ckpt: str) -> set[str]:
    """File names a stream has planned into batches, from its
    checkpoint's file-source log."""
    d = os.path.join(ckpt, "sources", "0")
    out: set[str] = set()
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _lines(spark, path: str) -> int:
    return spark.read.text(path).count() if os.path.isdir(path) else 0


def _canon(doc: dict) -> str:
    return json.dumps(doc, sort_keys=True)


def _rows_by_id(rows) -> dict[str, str]:
    out = {}
    for r in rows:
        d = r.asDict(recursive=True)
        out[d["id"]] = _canon(normalize_trade(d))
    return out

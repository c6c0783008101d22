"""Traced mode: spans around the sync engine's layer entry points.

The engine itself is not instrumented. :class:`Tracer` wraps the public
functions and methods each layer exposes, from the benchmark's side, and
keeps one span per call in memory:

* ``plans.plan_sync``             — catalog and schema planning
* ``sources.catalog.table``       — FileCatalog table resolution
* ``sources.catalog.write_table`` — FileCatalog staged table rewrite
* ``digest.digests_equal``        — whole-table digest short-circuit
* ``digest.differing_partitions`` — per-partition digest compare
* ``executor.run_unit``           — one sync unit (its self time is the
                                    row diff: hashing, anti-joins, counts)
* ``sources.dbapi.table``         — DBAPICatalog driver-side read
* ``sinks.jdbc``                  — chunked DELETE / INSERT / replace
* ``sinks.statement_log``         — StatementLog.log_delta

``executor`` binds ``plan_sync``, ``digests_equal`` and
``differing_partitions`` at import time, so those names are wrapped in
the executor module as well as in their home modules.

Each span sets the Spark job group ``bench:<layer>:<table>`` and
restores the previous one on exit, so ``statusTracker()
.getJobIdsForGroup`` attributes jobs to the innermost layer. Jobs that
carry no ``bench:`` group are reported as ``spark.jobs.unattributed``:
``digests_equal`` runs its two jobs on plain ``ThreadPoolExecutor``
threads, which inherit no job group, so that count stays above zero
until the engine propagates local properties to its pools.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: layers that set job groups, in report order
LAYERS = (
    "plans", "sources.catalog", "digest", "executor",
    "sources.dbapi", "sinks.jdbc", "sinks.statement_log",
)

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, parallel: int, partition_values: dict[str, int]):
        self.sc = spark.sparkContext
        self.parallel = parallel
        #: table -> number of distinct partition values (for prune_ratio)
        self.partition_values = partition_values
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._group_jobs: dict[str, int] = defaultdict(int)
        self.syncs: list[dict] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_table(self) -> str:
        st = self._stack()
        return st[-1]["table"] if st else "*"

    @contextlib.contextmanager
    def span(self, name: str, layer: str, table: str):
        st = self._stack()
        rec = {
            "name": name, "layer": layer, "table": table,
            "thread": threading.get_ident(),
            "parent": st[-1]["id"] if st else None,
        }
        prev = self.sc.getLocalProperty(_GROUP)
        group = f"bench:{layer}:{table}"
        self.sc.setJobGroup(group, f"{name} {table}")
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._group_jobs.setdefault(group, 0)
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    # -- wrapping ------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from mysql_syncer_spark import digest, executor
        from mysql_syncer_spark.plans import plan
        from mysql_syncer_spark.sinks import jdbc
        from mysql_syncer_spark.sinks.statement_log import StatementLog
        from mysql_syncer_spark.sources.catalog import FileCatalog
        from mysql_syncer_spark.sources.dbapi import DBAPICatalog

        tr = self

        plan_sync = plan.plan_sync

        def traced_plan_sync(*a, **kw):
            with tr.span("plans.plan_sync", "plans", "*"):
                return plan_sync(*a, **kw)

        digests_equal = digest.digests_equal

        def traced_digests_equal(*a, **kw):
            with tr.span("digest.digests_equal", "digest",
                         tr.current_table()) as rec:
                rec["equal"] = digests_equal(*a, **kw)
                return rec["equal"]

        differing = digest.differing_partitions

        def traced_differing(master, slave, partition_col, *a, **kw):
            table = tr.current_table()
            with tr.span("digest.differing_partitions", "digest", table) as rec:
                rec["calls"] = 1
                df = differing(master, slave, partition_col, *a, **kw)
            return _DeferredCollect(tr, df, table)

        for mod in (plan, executor):
            self._patch(mod, "plan_sync", traced_plan_sync)
        for mod in (digest, executor):
            self._patch(mod, "digests_equal", traced_digests_equal)
            self._patch(mod, "differing_partitions", traced_differing)

        run_unit = executor.ParquetSyncExecutor.run_unit

        def traced_run_unit(self_, unit):
            with tr.span("executor.run_unit", "executor", unit.table) as rec:
                res = run_unit(self_, unit)
                rec["status"] = res.status
                return res

        self._patch(executor.ParquetSyncExecutor, "run_unit", traced_run_unit)

        table = FileCatalog.table

        def traced_table(self_, name):
            with tr.span("sources.catalog.table", "sources.catalog", name):
                return table(self_, name)

        write_table = FileCatalog.write_table

        def traced_write_table(self_, df, name):
            with tr.span("sources.catalog.write_table", "sources.catalog",
                         name) as rec:
                write_table(self_, df, name)
            rec["rows"], rec["bytes"] = _parquet_size(self_.table_path(name))

        self._patch(FileCatalog, "table", traced_table)
        self._patch(FileCatalog, "write_table", traced_write_table)

        db_table = DBAPICatalog.table

        def traced_db_table(self_, name):
            with tr.span("sources.dbapi.table", "sources.dbapi", name) as rec:
                handle = db_table(self_, name)
            rec["rows"] = _sql_count(self_, name)
            return handle

        self._patch(DBAPICatalog, "table", traced_db_table)

        for fn in ("apply_deletes", "apply_inserts", "apply_replace"):
            self._patch(jdbc, fn, self._wrap_sink(getattr(jdbc, fn)))

        log_delta = StatementLog.log_delta

        def traced_log_delta(self_, table, *a, **kw):
            with tr.span("sinks.statement_log", "sinks.statement_log", table):
                return log_delta(self_, table, *a, **kw)

        self._patch(StatementLog, "log_delta", traced_log_delta)

    def _wrap_sink(self, fn):
        def traced(frame, table, *a, **kw):
            with self.span("sinks.jdbc", "sinks.jdbc", table):
                return fn(frame, table, *a, **kw)

        return traced

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- per-sync bookkeeping --------------------------------------------

    def record_sync(self, start: float, end: float, wall_start_ms: float,
                    wall_end_ms: float) -> None:
        """Close one traced sync: remember its window and the jobs each
        job group gained during it (status tracker, cumulative)."""
        tracker = self.sc.statusTracker()
        jobs = {}
        for group in list(self._group_jobs):
            n = len(tracker.getJobIdsForGroup(group))
            jobs[group] = n - self._group_jobs[group]
            self._group_jobs[group] = n
        self.syncs.append({
            "start": start, "end": end,
            "wall_start_ms": wall_start_ms, "wall_end_ms": wall_end_ms,
            "group_jobs": jobs,
        })

    # -- metrics ---------------------------------------------------------

    def metrics(self, event_log: str | None) -> dict[str, float]:
        events = _read_event_log(event_log) if event_log else None
        per_sync = [self._sync_metrics(s, events) for s in self.syncs]
        keys = per_sync[0].keys() if per_sync else []
        return {k: statistics.median(m[k] for m in per_sync) for k in keys}

    def _sync_metrics(self, s: dict, events) -> dict[str, float]:
        spans = [
            r for r in self.spans
            if "end" in r and s["start"] <= r["start"] and r["end"] <= s["end"]
        ]
        by = defaultdict(list)
        for r in spans:
            by[r["name"]].append(r)
        wall = s["end"] - s["start"]

        def total(name: str) -> float:
            return sum(r["end"] - r["start"] for r in by[name])

        out: dict[str, float] = {}
        out["plans.plan_sync.s"] = total("plans.plan_sync")
        out["plans.plan_sync.calls"] = len(by["plans.plan_sync"])
        out["sources.catalog.table.s"] = total("sources.catalog.table")
        out["sources.catalog.table.calls"] = len(by["sources.catalog.table"])

        eq = by["digest.digests_equal"]
        out["digest.digests_equal.s"] = total("digest.digests_equal")
        out["digest.digests_equal.calls"] = len(eq)
        out["digest.digests_equal.equal_ratio"] = (
            sum(bool(r.get("equal")) for r in eq) / len(eq) if eq else 0.0
        )

        dp = by["digest.differing_partitions"]
        out["digest.differing_partitions.s"] = total("digest.differing_partitions")
        differing = sum(r.get("differing", 0) for r in dp)
        universe = sum(
            self.partition_values.get(r["table"], 0) for r in dp if "calls" in r
        )
        out["digest.differing_partitions.prune_ratio"] = (
            differing / universe if universe else 0.0
        )

        children = defaultdict(float)
        for r in spans:
            if r["parent"] is not None:
                children[r["parent"]] += r["end"] - r["start"]
        units = by["executor.run_unit"]
        out["executor.row_diff_self_s"] = sum(
            r["end"] - r["start"] - children[r["id"]] for r in units
        )
        plans = by["plans.plan_sync"]
        ready = max((r["end"] for r in plans), default=s["start"])
        out["executor.queue_wait_s"] = sum(
            max(0.0, r["start"] - ready) for r in units
        )
        busy = sum(r["end"] - r["start"] for r in units)
        out["executor.pool_utilization"] = busy / (wall * self.parallel)
        out["executor.slowest_unit_s"] = max(
            (r["end"] - r["start"] for r in units), default=0.0
        )

        writes = by["sources.catalog.write_table"]
        out["sources.catalog.write_table.s"] = total("sources.catalog.write_table")
        out["sources.catalog.write_table.calls"] = len(writes)
        out["sources.catalog.write_table.rows"] = sum(r["rows"] for r in writes)
        out["sources.catalog.write_table.bytes"] = sum(r["bytes"] for r in writes)

        out["sources.dbapi.table.s"] = total("sources.dbapi.table")
        out["sources.dbapi.table.rows"] = sum(
            r["rows"] for r in by["sources.dbapi.table"]
        )
        out["sinks.jdbc.s"] = total("sinks.jdbc")
        out["sinks.jdbc.calls"] = len(by["sinks.jdbc"])
        out["sinks.statement_log.s"] = total("sinks.statement_log")

        layer_jobs = defaultdict(int)
        for group, n in s["group_jobs"].items():
            layer_jobs[group.split(":")[1]] += n
        attributed = sum(layer_jobs.values())
        for layer in LAYERS:
            out[f"spark.jobs.{layer}"] = layer_jobs[layer]
        if events is not None:
            stats = events.window(s["wall_start_ms"], s["wall_end_ms"])
            out["spark.jobs"] = stats["jobs"]
            out["spark.jobs.unattributed"] = stats["jobs"] - attributed
            out["spark.shuffle_write_bytes"] = stats["shuffle_write_bytes"]
            out["spark.input_bytes"] = stats["input_bytes"]
            out["spark.tasks_failed"] = stats["tasks_failed"]

        out["trace.unspanned_share"] = 1.0 - _covered(spans) / wall
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "syncs": self.syncs}, f)


class _DeferredCollect:
    """Stands in for the lazy frame ``differing_partitions`` returns, so
    the executor's ``.limit(n).collect()`` runs inside the layer's span
    and the number of differing partitions is recorded."""

    def __init__(self, tracer: Tracer, df, table: str):
        self._tr, self._df, self._table = tracer, df, table

    def limit(self, n: int) -> "_DeferredCollect":
        return _DeferredCollect(self._tr, self._df.limit(n), self._table)

    def collect(self):
        with self._tr.span("digest.differing_partitions", "digest",
                           self._table) as rec:
            rows = self._df.collect()
            rec["differing"] = len(rows)
            return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


def _covered(spans: list[dict]) -> float:
    """Length of the union of the spans' intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((r["start"], r["end"]) for r in spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _parquet_size(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    rows = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return rows, size


def _sql_count(catalog, name: str) -> int:
    conn = catalog.connect_factory()
    try:
        return conn.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
    finally:
        conn.close()


class _EventLog:
    """Job, task and byte counts from an uncompressed Spark event log."""

    def __init__(self):
        self.jobs: list[tuple[float, list[int]]] = []  # (submit ms, stages)
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)

    def window(self, start_ms: float, end_ms: float) -> dict:
        stages = set()
        jobs = 0
        for submitted, stage_ids in self.jobs:
            if start_ms <= submitted <= end_ms:
                jobs += 1
                stages.update(stage_ids)
        out = {"jobs": jobs, "shuffle_write_bytes": 0, "input_bytes": 0,
               "tasks_failed": 0}
        for sid in stages:
            for t in self.stage_tasks.get(sid, ()):
                out["shuffle_write_bytes"] += t["shuffle"]
                out["input_bytes"] += t["input"]
                out["tasks_failed"] += t["failed"]
        return out


def _read_event_log(path: str) -> _EventLog:
    log = _EventLog()
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                log.jobs.append((ev["Submission Time"], ev["Stage IDs"]))
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                log.stage_tasks[ev["Stage ID"]].append({
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "failed": int(reason != "Success"),
                })
    return log


def find_event_log(directory: str) -> str | None:
    if not os.path.isdir(directory):
        return None
    logs = [os.path.join(directory, f) for f in os.listdir(directory)]
    return max(logs, key=os.path.getmtime) if logs else None

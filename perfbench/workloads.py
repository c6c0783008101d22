"""The benchmark's workloads: inputs, catalogs, plan-shape guard and
correctness gate for each.

Every workload owns a work directory. ``build`` writes the master and
the pristine slave there from the seed; ``restore`` resets the slave
before a sync (outside the timed window); ``catalogs`` hands the two
sides to ``sync()``; ``check`` compares the synced slave to the master
without Spark and returns one message per failed check.
"""

from __future__ import annotations

import functools
import os
import shutil
import sqlite3
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

import gen

PARTITIONED = {"orders": "o_orderdate"}

#: the parquet workloads' catalog: one table for each plan action a
#: shared table can take (region, which the churn almost never touches,
#: is the digest-equal noop unit). Four tables, not the fixtures' eight:
#: see README, "Why these workloads".
CATALOG = ("region", "customer", "orders", "lineitem")


#: table only the first_sync slave holds, so the plan drops it
EXCESS_TABLE = "stale_audit"


def _actions(**counts: int) -> Counter:
    return Counter({k: v for k, v in counts.items() if v})


class Workload:
    name = ""
    tables = CATALOG
    #: multiset of plan actions (``Action.value``) the guard requires
    plan: Counter = Counter()
    #: table -> partition column declared to the engine
    partitioned = PARTITIONED

    def __init__(self, root: str, seed: int, sf: float, files: int):
        self.root = root
        self.seed = seed
        self.sf = sf
        self.files = files
        self.master_dir = os.path.join(root, "master")
        self.slave_dir = os.path.join(root, "slave")
        self.pristine_dir = os.path.join(root, "pristine")
        #: generated tables, and the same as the master catalog holds them
        self.raw: dict[str, pa.Table] = {}
        self.master: dict[str, pa.Table] = {}
        #: table -> (status, inserted, deleted) a correct sync reports
        self.expected: dict[str, tuple[str, int, int]] = {}

    # -- inputs --------------------------------------------------------

    def build(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.raw = gen.make_master(self.seed, self.sf, self.tables)
        self.master = {t: self.master_table(tbl) for t, tbl in self.raw.items()}
        for t, tbl in self.master.items():
            gen.write_table(tbl, self._path(self.master_dir, t), self.files)
        self.build_slave()

    def master_table(self, tbl: pa.Table) -> pa.Table:
        return tbl

    def build_slave(self) -> None:
        raise NotImplementedError

    def _path(self, base: str, table: str) -> str:
        return os.path.join(base, f"{table}.parquet")

    def restore(self) -> None:
        shutil.rmtree(self.slave_dir, ignore_errors=True)
        shutil.copytree(self.pristine_dir, self.slave_dir)

    # -- engine side ---------------------------------------------------

    def config(self, parallel: int):
        from mysql_syncer_spark.config import SyncConfig

        return SyncConfig(
            max_parallel_tables=parallel, partitioned_tables=self.partitioned,
        )

    def catalogs(self, spark):
        from mysql_syncer_spark.sources.catalog import ParquetCatalog

        return (
            ParquetCatalog(spark, self.master_dir),
            ParquetCatalog(spark, self.slave_dir),
        )

    def plan_shape(self, master, slave, cfg) -> Counter:
        from mysql_syncer_spark.plans.plan import plan_sync

        return Counter(u.action.value for u in plan_sync(master, slave, cfg))

    # -- correctness gate ----------------------------------------------

    def check(self, report) -> list[str]:
        errors = []
        seen = {r.table: r for r in report.results}
        for r in report.results:
            if r.status == "error":
                errors.append(f"{r.table}: unit error {r.error.splitlines()[0]}")
        for table, (status, ins, dele) in self.expected.items():
            r = seen.get(table)
            if r is None:
                errors.append(f"{table}: no unit in the report")
            elif (r.status, r.inserted, r.deleted) != (status, ins, dele):
                errors.append(
                    f"{table}: reported {(r.status, r.inserted, r.deleted)}, "
                    f"expected {(status, ins, dele)}"
                )
        return errors + self.compare_slave()

    def compare_slave(self) -> list[str]:
        """DuckDB ``EXCEPT ALL`` in both directions per table, plus the
        slave's table set."""
        errors = []
        names = sorted(
            f[: -len(".parquet")] for f in os.listdir(self.slave_dir)
            if f.endswith(".parquet")
        )
        if names != sorted(self.master):
            errors.append(f"slave tables {names} != master {sorted(self.master)}")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for t in sorted(set(names) & set(self.master)):
                m = f"read_parquet('{self._path(self.master_dir, t)}/*.parquet')"
                s = f"read_parquet('{self._path(self.slave_dir, t)}/*.parquet')"
                for a, b, side in ((m, s, "missing"), (s, m, "excess")):
                    n = con.execute(
                        f"SELECT count(*) FROM (SELECT * FROM {a} "
                        f"EXCEPT ALL SELECT * FROM {b})"
                    ).fetchone()[0]
                    if n:
                        errors.append(f"{t}: {n} rows {side} on the slave")
        finally:
            con.close()
        return errors

    def written(self, report, before: dict) -> tuple[int, int]:
        """Rows and bytes of the slave part files that are new since the
        ``before`` snapshot (a sync rewrites a table into fresh files)."""
        rows = size = 0
        for path, st in self.snapshot().items():
            if path not in before and path.endswith(".parquet"):
                size += st
                rows += _parquet_rows(path)
        return rows, size

    def snapshot(self) -> dict:
        out = {}
        for dirpath, _, files in os.walk(self.slave_dir):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
        return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


class ChurnParquet(Workload):
    """The catalog with ~1% drift on the slave, restored before each
    sync: digest miss, row-hash anti-joins, delete-before-insert
    apply, the partition-pruned diff and a keyless whole-table copy."""

    name = "churn_1pct"
    plan = _actions(diff_sync=2, diff_sync_partitioned=1, copy_if_changed=1)

    def build_slave(self) -> None:
        for t, tbl in self.master.items():
            slave, exp = gen.churn(t, tbl, self.seed)
            gen.write_table(slave, self._path(self.pristine_dir, t), self.files)
            if t == "lineitem":
                self.expected[t] = ("ok", 0, 0)
            else:
                status = "ok" if exp.inserted or exp.deleted else "noop"
                self.expected[t] = (status, exp.inserted, exp.deleted)


class ResyncNoop(Workload):
    """The converged catalog re-synced: only planning and the digest
    short-circuit work, the control for row-diff and write changes."""

    name = "resync_noop"
    plan = ChurnParquet.plan

    def build_slave(self) -> None:
        shutil.copytree(self.master_dir, self.pristine_dir)
        self.expected = {t: ("noop", 0, 0) for t in self.master}

    def restore(self) -> None:
        # the converged slave stays converged: restore only once
        if not os.path.isdir(self.slave_dir):
            super().restore()


class FirstSync(Workload):
    """The slave holds one excess table: 1 DROP and a FULL_COPY per
    table, the write path with no digest and no row diff."""

    name = "first_sync"
    plan = _actions(drop=1, full_copy=len(CATALOG))

    def build_slave(self) -> None:
        excess = pa.table({"audit_id": pa.array([1, 2, 3], pa.int64())})
        gen.write_table(excess, self._path(self.pristine_dir, EXCESS_TABLE), 1)
        self.expected = {t: ("ok", 0, 0) for t in self.master}
        self.expected[EXCESS_TABLE] = ("ok", 0, 0)


_SQLITE_TYPES = {"int64": "BIGINT", "double": "DOUBLE", "string": "TEXT"}


class SqliteChurn(Workload):
    """Parquet master into a sqlite3 slave through DBAPISyncExecutor with
    a statement log: driver-side DBAPI reads and chunked SQL writes."""

    name = "sqlite_churn"
    tables = ("customer", "part", "orders")
    plan = _actions(diff_sync=3)
    partitioned: dict[str, str] = {}
    chunk_size = 5000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.slave_db = os.path.join(self.root, "slave.db")
        self.pristine_db = os.path.join(self.root, "pristine.db")
        self.log_path = os.path.join(self.root, "queries.sql")

    def master_table(self, tbl: pa.Table) -> pa.Table:
        """Widen ints to int64 and render timestamps as text: the types
        the sqlite slave reads back, so the plan is a diff, not a
        schema-drift copy."""
        cols = []
        for f, col in zip(tbl.schema, tbl.columns):
            if pa.types.is_integer(f.type):
                col = col.cast(pa.int64())
            elif pa.types.is_timestamp(f.type):
                col = pc.strftime(
                    col.cast(pa.timestamp("s")), format="%Y-%m-%d %H:%M:%S"
                )
            cols.append(col)
        return pa.table(cols, names=tbl.column_names)

    def build_slave(self) -> None:
        conn = sqlite3.connect(self.pristine_db)
        try:
            for t, tbl in self.master.items():
                slave, exp = gen.churn(t, self.raw[t], self.seed)
                slave = self.master_table(slave)
                pk = gen.PKS[t]
                cols = ", ".join(
                    f'"{f.name}" {_SQLITE_TYPES[str(f.type)]}' for f in tbl.schema
                )
                conn.execute(f'CREATE TABLE "{t}" ({cols}, PRIMARY KEY ("{pk}"))')
                marks = ", ".join("?" * tbl.num_columns)
                conn.executemany(
                    f'INSERT INTO "{t}" VALUES ({marks})',
                    zip(*(c.to_pylist() for c in slave.columns)),
                )
                status = "ok" if exp.inserted or exp.deleted else "noop"
                self.expected[t] = (status, exp.inserted, exp.deleted)
            conn.commit()
        finally:
            conn.close()

    def restore(self) -> None:
        shutil.copyfile(self.pristine_db, self.slave_db)

    def config(self, parallel: int):
        from mysql_syncer_spark.config import SyncConfig

        return SyncConfig(
            max_parallel_tables=parallel, log_statements=self.log_path,
            chunk_size=self.chunk_size,
        )

    def catalogs(self, spark):
        from mysql_syncer_spark.sources.catalog import ParquetCatalog
        from mysql_syncer_spark.sources.dbapi import DBAPICatalog

        return (
            ParquetCatalog(spark, self.master_dir),
            DBAPICatalog(spark, self.connect_factory()),
        )

    def connect_factory(self):
        # picklable: executors open their own connections for the sinks
        return functools.partial(sqlite3.connect, self.slave_db, timeout=120)

    def compare_slave(self) -> list[str]:
        """The slave, and a pristine copy with the statement log
        replayed onto it, each equal the master as row multisets read
        through sqlite3."""
        from mysql_syncer_spark.sinks.statement_log import StatementLog

        errors = self._compare_db(self.slave_db, "slave")
        replay = os.path.join(self.root, "replay.db")
        shutil.copyfile(self.pristine_db, replay)
        conn = sqlite3.connect(replay)
        try:
            StatementLog.replay(self.log_path, conn)
        finally:
            conn.close()
        return errors + self._compare_db(replay, "replayed log")

    def _compare_db(self, path: str, label: str) -> list[str]:
        errors = []
        conn = sqlite3.connect(path)
        try:
            for t, tbl in self.master.items():
                cols = ", ".join(f'"{c}"' for c in tbl.column_names)
                got = Counter(conn.execute(f'SELECT {cols} FROM "{t}"'))
                want = Counter(zip(*(c.to_pylist() for c in tbl.columns)))
                missing = sum((want - got).values())
                excess = sum((got - want).values())
                if missing or excess:
                    errors.append(
                        f"{label} {t}: {missing} rows missing, {excess} excess"
                    )
        finally:
            conn.close()
        return errors

    def written(self, report, before: dict) -> tuple[int, int]:
        """Rows the statements inserted or deleted, and the bytes of the
        statement log that mirrors them."""
        rows = sum(r.inserted + r.deleted for r in report.results)
        return rows, os.path.getsize(self.log_path)

    def snapshot(self) -> dict:
        return {}


WORKLOADS = {
    w.name: w for w in (ResyncNoop, ChurnParquet, FirstSync, SqliteChurn)
}

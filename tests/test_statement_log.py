"""Replayable statement log (S18 at full fidelity — the reference's
LOG_QUERIES, settings.php.tmpl:25-30).

Law under test: the emitted ``queries.sql``, replayed IN ORDER through
a plain sqlite3 connection, transforms the pre-sync slave into the
converged slave EXACTLY — whether the file came from a real sync or
from ``dry_run=True`` (the replayable-preview contract). Plus the
splitter round trip on adversarial values (quotes, semicolons, raw
newlines inside strings) and the file-slave refusal.
"""

import os
import re
import shutil
import sqlite3
import sys
import threading

import pytest

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.executor import sync
from mysql_syncer_spark.sinks.statement_log import (
    StatementLog,
    _split_statements,
)
from mysql_syncer_spark.sources.dbapi import DBAPICatalog

ORDERS_DDL = (
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, "
    "o_custkey INTEGER, o_status TEXT, o_totalprice INTEGER, o_comment TEXT)"
)
TAGS_DDL = "CREATE TABLE tags (label TEXT, weight REAL)"  # no PK


def _factory(path):
    import hashlib

    def connect():
        conn = sqlite3.connect(path, timeout=30)
        conn.execute("PRAGMA busy_timeout=30000")
        # MySQL-native md5 stand-in, needed by the pushdown lane
        conn.create_function(
            "md5", 1,
            lambda s: hashlib.md5(str(s).encode()).hexdigest(),
        )
        return conn

    return connect


def _rows(n=300):
    out = []
    for k in range(n):
        comment = f"order {k}"
        if k % 40 == 0:  # the splitter's adversaries, as DATA
            comment = "a; 'quoted'; DROP TABLE orders; --\nnewline 'x''y'"
        out.append((k, k % 37, "OF"[k % 2], k * 3, comment))
    return out


@pytest.fixture()
def dbs(tmp_path):
    mpath, spath = str(tmp_path / "master.db"), str(tmp_path / "slave.db")
    rows = _rows()
    with sqlite3.connect(mpath) as m:
        m.execute(ORDERS_DDL)
        m.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", rows)
        m.execute(TAGS_DDL)
        m.executemany(
            "INSERT INTO tags VALUES (?,?)",
            [(f"t{i}", i / 7.0) for i in range(40)],
        )
        m.execute(
            "CREATE TABLE region (r_regionkey INTEGER PRIMARY KEY, "
            "r_name TEXT)"
        )
        m.executemany(
            "INSERT INTO region VALUES (?,?)",
            [(i, f"region-{i}") for i in range(5)],
        )
    slave_rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)
        for (k, c, s, p, cm) in rows
        if k % 13 != 0
    ] + [(10_000 + k, 1, "X", 0.0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", slave_rows)
        s.execute(TAGS_DDL)  # drifted no-PK table -> full copy in log
        s.executemany(
            "INSERT INTO tags VALUES (?,?)", [(f"t{i}", 0.0) for i in range(3)]
        )
        s.execute("CREATE TABLE scratch (x INTEGER PRIMARY KEY)")
    return mpath, spath


def _dump_all(path):
    out = {}
    with sqlite3.connect(path) as conn:
        tables = sorted(
            r[0]
            for r in conn.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        )
        for t in tables:
            out[t] = sorted(
                conn.execute(f"SELECT * FROM {t}").fetchall(), key=repr
            )
    return out


def test_dry_run_log_replays_to_convergence(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    master = DBAPICatalog(spark, _factory(mpath))
    slave = DBAPICatalog(spark, _factory(spath))
    before = _dump_all(spath)
    rep = sync(
        master, slave,
        SyncConfig(dry_run=True, log_statements=log, max_parallel_tables=2),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == before  # dry run touched nothing
    with sqlite3.connect(spath) as conn:
        n = StatementLog.replay(log, conn)
    assert n > 0
    assert _dump_all(spath) == _dump_all(mpath)  # replay == converged


def test_real_sync_log_matches_executed_writes(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    pristine = str(tmp_path / "pre_sync.db")
    shutil.copyfile(spath, pristine)
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(log_statements=log),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert _dump_all(spath) == _dump_all(mpath)  # sync converged
    with sqlite3.connect(pristine) as conn:
        StatementLog.replay(log, conn)
    # the log replayed on the PRE-sync slave == the executed writes
    assert _dump_all(pristine) == _dump_all(spath)


def test_pushdown_dry_run_log_converges(spark, dbs, tmp_path):
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log, hash_pushdown=True),
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


def test_file_slave_refuses_statement_log(spark, tmp_path):
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    d = tmp_path / "pq"
    d.mkdir()
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        str(d / "t.parquet")
    )
    cat = ParquetCatalog(spark, str(d), pk_map={"t": ("k",)})
    with pytest.raises(ValueError, match="SQL-backed slave"):
        sync(cat, cat, SyncConfig(log_statements=str(tmp_path / "q.sql")))


def test_splitter_roundtrip_adversarial_values():
    text = (
        "-- header comment\n"
        "-- mode: backslash_escapes=False\n"
        "INSERT INTO \"t\" (\"a\") VALUES ('x;\ny''s; -- not a comment');\n"
        "DELETE FROM \"t\" WHERE (\"a\") IN (('b'));\n"
    )
    stmts = list(_split_statements(text))
    assert len(stmts) == 2
    assert stmts[0].endswith("('x;\ny''s; -- not a comment')")
    assert stmts[1].startswith("DELETE FROM")


def test_parallel_tables_blocks_stay_contiguous(spark, dbs, tmp_path):
    """max_parallel_tables > 1: each table's statements are ONE
    contiguous file block (each block renders on its own and is
    appended whole), so replay order within a table is always delete-
    before-insert even when units interleave."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log,
                   max_parallel_tables=4),
    )
    assert rep.ok
    import re

    text = open(log).read()
    # per-table block markers appear exactly once each
    for marker in ("-- delta orders", "-- full copy region",
                   "-- full copy tags", "-- drop scratch"):
        assert text.count(marker) == 1, marker
    # between one table's marker and the next marker, every statement
    # targets THAT table only
    spans = [(m.start(), m.group()) for m in
             re.finditer(r"^-- (delta|full copy|drop) (\w+)", text, re.M)]
    spans.append((len(text), "-- end end"))
    for (a, head), (b, _) in zip(spans, spans[1:]):
        table = head.split()[-1]
        for stmt in re.findall(
            r'^(?:INSERT INTO|DELETE FROM|DROP TABLE IF EXISTS|CREATE TABLE) "(\w+)"',
            text[a:b], re.M,
        ):
            assert stmt == table, (head, stmt)


def test_partitioned_sync_log_replays_to_convergence(spark, dbs, tmp_path):
    """DIFF_SYNC_PARTITIONED writes its delta through the same logging
    hook: the dry-run file replays to convergence with the partition-
    scoped rescan semantics (only touched o_status partitions appear)."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    cfg = SyncConfig(
        dry_run=True, log_statements=log,
        partitioned_tables={"orders": "o_status"},
    )
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        cfg,
    )
    assert rep.ok, [r.error for r in rep.results if r.error]
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


def test_statement_log_and_changelog_compose(spark, dbs, tmp_path):
    """Both audit artifacts at once: the replayable SQL file and the
    structured changelog record the SAME delta (per-table insert/delete
    counts agree), from one dry run."""
    mpath, spath = dbs
    log = str(tmp_path / "queries.sql")
    clog = str(tmp_path / "changelog")
    rep = sync(
        DBAPICatalog(spark, _factory(mpath)),
        DBAPICatalog(spark, _factory(spath)),
        SyncConfig(dry_run=True, log_statements=log, changelog_path=clog),
    )
    assert rep.ok
    by_tab = {r.table: r for r in rep.results}
    rows = spark.read.parquet(clog).groupBy("table_name", "op").count().collect()
    got = {(r["table_name"], r["op"]): r["count"] for r in rows}
    assert got[("orders", "insert")] == by_tab["orders"].inserted
    assert got[("orders", "delete")] == by_tab["orders"].deleted
    with sqlite3.connect(spath) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(spath) == _dump_all(mpath)


class _Frame:
    """Just enough of a DataFrame for the emitter: ``columns``,
    ``select`` and ``toLocalIterator``. ``before`` runs when the
    iterator starts; ``fail_after`` raises after that many rows."""

    def __init__(self, cols, rows, before=None, fail_after=None):
        self.columns = list(cols)
        self.rows = [dict(zip(cols, r)) for r in rows]
        self.before = before
        self.fail_after = fail_after

    def select(self, *cols):
        return _Frame(cols, [[r[c] for c in cols] for r in self.rows],
                      self.before, self.fail_after)

    def toLocalIterator(self):
        if self.before is not None:
            self.before()
        for i, r in enumerate(self.rows):
            if i == self.fail_after:
                raise RuntimeError("delta job failed")
            yield r


def _read(path):
    with open(path) as f:
        return f.read()


def test_failed_render_appends_nothing(tmp_path):
    """A delta whose insert stream fails after the first chunk leaves
    the log as it was — no DELETEs without their INSERTs — and no
    temporary block file behind."""
    path = str(tmp_path / "queries.sql")
    log = StatementLog(path, chunk_size=2)
    header = _read(path)
    deletes = _Frame(["k"], [[1], [2], [3]])
    inserts = _Frame(["k", "v"], [[i, f"v{i}"] for i in range(6)],
                     fail_after=2)
    with pytest.raises(RuntimeError, match="delta job failed"):
        log.log_delta("t", ["k"], inserts, deletes)
    assert _read(path) == header
    assert os.listdir(tmp_path) == ["queries.sql"]


def test_concurrent_blocks_render_in_parallel(tmp_path):
    """Eight units' log_delta calls are in their Spark jobs at the same
    time (each iterator waits for all the others at a barrier;
    serialized renders would time out there), and each block stays
    contiguous."""
    path = str(tmp_path / "queries.sql")
    log = StatementLog(path, chunk_size=2)
    tables = [f"t{i}" for i in range(8)]
    barrier = threading.Barrier(len(tables), timeout=10)
    errors = []

    def unit(table):
        rows = [[i, f"{table}-{i}"] for i in range(5)]
        try:
            log.log_delta(
                table, ["k"],
                _Frame(["k", "v"], rows, before=barrier.wait),
                _Frame(["k"], [[9], [10], [11]]),
            )
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=unit, args=(t,)) for t in tables]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    blocks = re.split(r"^-- delta ", _read(path), flags=re.M)[1:]
    assert sorted(b.split("\n", 1)[0] for b in blocks) == tables
    for b in blocks:
        table = b.split("\n", 1)[0]
        targets = re.findall(r'^(?:INSERT INTO|DELETE FROM) "(\w+)"', b, re.M)
        assert len(targets) == 2 + 3 * 2 and set(targets) == {table}
    assert os.listdir(tmp_path) == ["queries.sql"]


def _parquet_master(spark, tmp_path, files=8):
    """The orders rows as a parquet master of ``files`` files."""
    path = str(tmp_path / "master" / "orders.parquet")
    spark.createDataFrame(
        _rows(),
        "o_orderkey long, o_custkey long, o_status string, "
        "o_totalprice long, o_comment string",
    ).repartition(files).write.parquet(path)
    return path


def _orders_slave(tmp_path):
    """A sqlite slave holding a perturbed copy of the orders rows:
    missing, mutated and excess keys."""
    spath = str(tmp_path / "slave.db")
    rows = [
        (k, c, s, p + (3 if k % 11 == 0 else 0), cm)
        for (k, c, s, p, cm) in _rows()
        if k % 13 != 0
    ] + [(10_000 + k, 1, "X", 0, "excess") for k in range(5)]
    with sqlite3.connect(spath) as s:
        s.execute(ORDERS_DDL)
        s.executemany("INSERT INTO orders VALUES (?,?,?,?,?)", rows)
    return spath


def test_logged_delta_streams_in_chunk_partitions(spark, tmp_path,
                                                  monkeypatch):
    """With a statement log, the log and the sinks get the delta in
    ceil(rows / chunk_size) partitions, not one per master file."""
    from mysql_syncer_spark.sinks import jdbc
    from mysql_syncer_spark.sources.catalog import ParquetCatalog

    _parquet_master(spark, tmp_path, files=8)
    spath = _orders_slave(tmp_path)
    seen = {}

    def record(name, fn, arg):
        def wrapper(*a, **kw):
            seen[name] = a[arg].rdd.getNumPartitions()
            return fn(*a, **kw)
        return wrapper

    orig_log = StatementLog.log_delta

    def log_delta(self, table, pk_cols, inserts, deletes):
        seen["log_inserts"] = inserts.rdd.getNumPartitions()
        seen["log_deletes"] = deletes.rdd.getNumPartitions()
        return orig_log(self, table, pk_cols, inserts, deletes)

    monkeypatch.setattr(StatementLog, "log_delta", log_delta)
    monkeypatch.setattr(jdbc, "apply_deletes",
                        record("sink_deletes", jdbc.apply_deletes, 0))
    monkeypatch.setattr(jdbc, "apply_replace",
                        record("sink_inserts", jdbc.apply_replace, 0))
    # 8 uncoalesced shuffle partitions: the delta's frames have more
    # partitions than their chunk counts before the executor coalesces
    confs = {"spark.sql.shuffle.partitions": "8",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    chunk = 20
    try:
        rep = sync(
            ParquetCatalog(spark, str(tmp_path / "master"),
                           pk_map={"orders": ("o_orderkey",)}),
            DBAPICatalog(spark, _factory(spath)),
            SyncConfig(log_statements=str(tmp_path / "queries.sql"),
                       chunk_size=chunk),
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert rep.ok, [r.error for r in rep.results if r.error]
    (r,) = rep.results
    n_ins, n_del = -(-r.inserted // chunk), -(-r.deleted // chunk)
    assert 1 < n_ins < 8 and 1 < n_del
    assert seen == {
        "log_inserts": n_ins, "sink_inserts": n_ins,
        "log_deletes": n_del, "sink_deletes": n_del,
    }


def test_master_change_after_log_keeps_log_and_writes_equal(
    spark, tmp_path, monkeypatch
):
    """The master changes after the statement log is written and before
    the sinks write: the slave still equals the pre-sync slave with the
    log replayed, because both read one pinned delta."""
    from pyspark.sql import functions as F

    from mysql_syncer_spark.config import TableHandle
    from mysql_syncer_spark.executor import DBAPISyncExecutor
    from mysql_syncer_spark.sources.catalog import Catalog

    mpath = _parquet_master(spark, tmp_path, files=4)
    spath = _orders_slave(tmp_path)
    pristine = str(tmp_path / "pre_sync.db")
    shutil.copyfile(spath, pristine)
    version = tmp_path / "version"
    version.write_text("")
    vpath = str(version)
    # o_comment gets the version file's text appended at every scan: a
    # master that changes whenever the file does
    live = F.udf(lambda: open(vpath).read(), "string")

    class LiveMaster(Catalog):
        def __init__(self):
            self.spark = spark

        def table_names(self):
            return ["orders"]

        def table(self, name):
            df = spark.read.parquet(mpath).withColumn(
                "o_comment", F.concat("o_comment", live())
            )
            return TableHandle(name, df, ("o_orderkey",))

    orig = DBAPISyncExecutor._log_delta

    def log_then_change_master(self, *a, **kw):
        orig(self, *a, **kw)
        version.write_text(" (changed)")

    monkeypatch.setattr(DBAPISyncExecutor, "_log_delta",
                        log_then_change_master)
    log = str(tmp_path / "queries.sql")
    rep = sync(LiveMaster(), DBAPICatalog(spark, _factory(spath)),
               SyncConfig(log_statements=log))
    assert rep.ok, [r.error for r in rep.results if r.error]
    assert rep.results[0].inserted > 0
    with sqlite3.connect(pristine) as conn:
        StatementLog.replay(log, conn)
    assert _dump_all(pristine) == _dump_all(spath)

"""Self-test of the benchmark's input generation and plan-shape guard.

Run from the repository root::

    python -m pytest perfbench/test_seed.py -q
"""

import os
import sqlite3
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import workloads  # noqa: E402

SF = 0.001
FILES = 2


def _built(root, name: str, seed: int):
    wl = workloads.WORKLOADS[name](str(root / f"{name}-{seed}"), seed, SF, FILES)
    wl.build()
    return wl


def _slave_content(wl) -> dict:
    if isinstance(wl, workloads.SqliteChurn):
        conn = sqlite3.connect(wl.pristine_db)
        try:
            return {"dump": list(conn.iterdump())}
        finally:
            conn.close()
    return {
        t: pq.read_table(os.path.join(wl.pristine_dir, t))
        for t in sorted(os.listdir(wl.pristine_dir))
    }


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs(tmp_path, name):
    a = _built(tmp_path / "a", name, 7)
    b = _built(tmp_path / "b", name, 7)
    assert a.master.keys() == b.master.keys()
    for t in a.master:
        assert a.master[t].equals(b.master[t]), t
    assert _slave_content(a) == _slave_content(b)
    assert a.expected == b.expected


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_other_seed_other_inputs(tmp_path, name):
    a = _built(tmp_path, name, 7)
    b = _built(tmp_path, name, 8)
    assert any(not a.master[t].equals(b.master[t]) for t in a.master)
    if name in ("churn_1pct", "sqlite_churn"):
        assert a.expected != b.expected
        assert _slave_content(a) != _slave_content(b)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    from mysql_syncer_spark.sources.catalog import configure_session

    s = configure_session(
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
                str(tmp_path_factory.mktemp("warehouse")))
    ).getOrCreate()
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_plan_shape_guard(tmp_path, spark, name):
    wl = _built(tmp_path, name, 7)
    wl.restore()
    master, slave = wl.catalogs(spark)
    assert wl.plan_shape(master, slave, wl.config(2)) == wl.plan

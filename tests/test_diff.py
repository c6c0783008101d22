"""Diff kernel: diff_keys, missing/excess/changed rows, digests, apply_delta.

Per-PK diff tests run on ``orders`` (o_orderkey IS unique in the fixtures).
``lineitem`` has no unique key (FIXTURES.md overstates its composite PK:
at sf0.001 only 4599 distinct (l_orderkey, l_linenumber) over 6000 rows),
so it only appears in digest tests here and takes the no-PK full-copy path
in the planner (reference: COPY_TABLES_WITH_NO_PRIMARY,
Synchronizer.php:213-222).
"""

from pyspark.sql import functions as F

from mysql_syncer_spark.canon import with_row_hash
from mysql_syncer_spark.diff import (
    apply_delta,
    changed_rows,
    diff_keys,
    excess_rows,
    missing_rows,
    rows_to_copy,
)
from mysql_syncer_spark.digest import (
    differing_partitions,
    digests_equal,
    table_digest,
    table_digest_scalable,
)

PK = ["o_orderkey"]


def _perturbed(orders):
    """Deterministic slave: drop ~1% of rows, mutate ~1% of totalprices."""
    key = F.col("o_orderkey")
    slave = orders.where(key % 97 != 0)  # dropped rows -> missing on slave
    slave = slave.withColumn(
        "o_totalprice",
        F.when(key % 89 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return slave


def _tag(master, slave, pk=PK):
    return diff_keys(with_row_hash(master, pk), with_row_hash(slave, pk), pk)


def _merge(master, slave, pk=PK):
    """The executor's parquet merge: tagged compare, upsert rows, one
    anti-join on every tagged key."""
    tagged = _tag(master, slave, pk)
    inserts = rows_to_copy(master, tagged.where(F.col("op") != "delete"), pk)
    return apply_delta(slave, inserts, tagged, pk)


def test_digest_equal_self(lineitem):
    assert digests_equal(lineitem, lineitem)
    d1 = table_digest(lineitem)
    d2 = table_digest(lineitem.orderBy(F.rand(seed=1)))  # order-independent
    assert d1 == d2


def test_fast_digest_null_positions(spark):
    """xxhash64 skips NULL inputs, so (2,null,null) vs (null,2,null)
    would collide without the null-position signature — the fast digest
    must still see them as different (NullColumnTest economics,
    reference TableConnection.php:473-477)."""
    a = spark.createDataFrame([(1, 2, None, None)], "id long, a int, b int, c int")
    b = spark.createDataFrame([(1, None, 2, None)], "id long, a int, b int, c int")
    assert not digests_equal(a, b)
    assert digests_equal(a, a)
    # schema drift can never digest-match
    assert not digests_equal(a, a.drop("c"))
    # empty vs empty is equal; empty vs non-empty is not
    assert digests_equal(a.limit(0), a.limit(0))
    assert not digests_equal(a, a.limit(0))


def test_digest_detects_change(orders):
    slave = _perturbed(orders)
    assert not digests_equal(orders, slave)
    a = table_digest_scalable(orders)
    b = table_digest_scalable(slave)
    assert tuple(a) != tuple(b)


def test_missing_excess_changed(spark, orders):
    slave = _perturbed(orders)
    mh = with_row_hash(orders, PK)
    sh = with_row_hash(slave, PK)

    dropped = orders.select(*PK).subtract(slave.select(*PK)).count()
    m2 = orders.select(*PK, F.col("o_totalprice").alias("m_price"))
    s2 = slave.select(*PK, F.col("o_totalprice").alias("s_price"))
    mutated = (
        s2.join(m2, PK).where(F.col("s_price") != F.col("m_price")).count()
    )
    assert dropped > 0 and mutated > 0

    # hash mode (reference-faithful): missing = dropped + mutated rows
    assert missing_rows(mh, sh, PK, "hash").count() == dropped + mutated
    assert excess_rows(mh, sh, PK, "hash").count() == mutated
    # pk_hash mode: same counts here (no duplicate-content rows in fixture)
    assert missing_rows(mh, sh, PK, "pk_hash").count() == dropped + mutated
    assert changed_rows(mh, sh, PK).count() == mutated


def test_duplicate_content_set_semantics(spark):
    """J7: rows with identical content but different PKs share a hash;
    'hash' mode conflates them, 'pk_hash' mode does not."""
    m = spark.createDataFrame(
        [(1, "x"), (2, "x")], "id int, v string"
    )
    s = spark.createDataFrame([(1, "x")], "id int, v string")
    mh = with_row_hash(m, ["id"], hash_cols=["v"])
    sh = with_row_hash(s, ["id"], hash_cols=["v"])
    assert missing_rows(mh, sh, ["id"], "hash").count() == 0  # content present
    assert missing_rows(mh, sh, ["id"], "pk_hash").count() == 1  # pk 2 absent


def test_apply_delta_converges(spark, orders):
    slave = _perturbed(orders)
    merged = _merge(orders, slave)
    assert merged.count() == orders.count()
    # full equality via subtract both ways
    assert merged.subtract(orders).count() == 0
    assert orders.subtract(merged).count() == 0
    # idempotence: rediff finds nothing
    assert _tag(orders, merged).count() == 0


def test_diff_keys_op_counts(spark, orders):
    """The tagged compare's op counts equal the planted drift: dropped
    rows are inserts, mutated rows updates, slave-only rows deletes."""
    key = F.col("o_orderkey")
    excess = orders.where(key % 101 == 0).withColumn(
        "o_orderkey", key + 10_000_000
    )
    slave = _perturbed(orders).unionByName(excess)
    dropped = orders.select(*PK).subtract(slave.select(*PK)).count()
    extra = slave.select(*PK).subtract(orders.select(*PK)).count()
    m2 = orders.select(*PK, F.col("o_totalprice").alias("m_price"))
    s2 = slave.select(*PK, F.col("o_totalprice").alias("s_price"))
    mutated = (
        s2.join(m2, PK).where(F.col("s_price") != F.col("m_price")).count()
    )
    assert dropped > 0 and mutated > 0 and extra > 0
    counts = dict(_tag(orders, slave).groupBy("op").count().collect())
    assert counts == {"insert": dropped, "update": mutated, "delete": extra}


def test_diff_keys_hashes_each_side_once(orders):
    """Plan guard: the tagged frame computes the md5 row hash once per
    side — one compare, not a re-hash per output branch."""
    tagged = _tag(orders, _perturbed(orders))
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("md5(") == 2


def test_digests_equal_runs_in_callers_job_group(spark, orders):
    """The digest jobs carry the caller's job group (and so its FAIR
    pool and cancellation): no driver thread drops local properties."""
    sc = spark.sparkContext
    group = "digest-job-group-probe"
    sc.setJobGroup(group, "probe")
    try:
        digests_equal(orders, _perturbed(orders))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1


def test_differing_partitions(spark, orders):
    """Partition-wise planning: one partition mutated, one dropped."""
    pcol = "o_orderpriority"
    vals = [r[0] for r in orders.select(pcol).distinct().collect()]
    dropped_val, mutated_val = sorted(vals)[0], sorted(vals)[1]
    slave = orders.where(F.col(pcol) != dropped_val)
    slave = slave.withColumn(
        "o_totalprice",
        F.when(
            (F.col(pcol) == mutated_val) & (F.col("o_orderkey") % 11 == 0),
            F.col("o_totalprice") + 1,
        ).otherwise(F.col("o_totalprice")),
    )
    parts = {
        r["partition_value"]: r["status"]
        for r in differing_partitions(orders, slave, pcol).collect()
    }
    assert parts == {dropped_val: "missing", mutated_val: "differs"}


def test_diff_keys_merge_single_pass(spark, orders):
    """The diff_keys + apply_delta merge converges with a bounded-scan
    plan (narrow full-outer key compare + one semi join + one anti
    join)."""
    slave = _perturbed(orders)
    merged = _merge(orders, slave)
    assert merged.count() == orders.count()
    assert merged.subtract(orders).count() == 0
    assert orders.subtract(merged).count() == 0
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 6

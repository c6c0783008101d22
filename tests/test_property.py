"""Property-based convergence tests (SURVEY.md §5.3, hypothesis):
random tables + random perturbations ⇒ sync converges and re-diff is
empty. Examples are kept small and few — each example spins real Spark
jobs."""

import hypothesis.strategies as st
import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_syncer_spark.canon import with_row_hash
from mysql_syncer_spark.diff import apply_delta, diff_keys, rows_to_copy
from mysql_syncer_spark.digest import digests_equal

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.DoubleType(), True),
    ]
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),                     # id
        st.one_of(st.none(), st.integers(-5, 5)),                   # a
        st.one_of(st.none(), st.text("xyz#',\\", max_size=4)),      # b
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       width=32)),                  # c
    ),
    max_size=12,
    unique_by=lambda t: t[0],  # unique PK
)

perturb_strategy = st.tuples(
    st.sets(st.integers(0, 30), max_size=5),   # ids to drop on slave
    st.sets(st.integers(0, 30), max_size=5),   # ids to mutate on slave
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy, perturb=perturb_strategy)
def test_merge_converges_on_random_tables(spark, rows, perturb):
    master = spark.createDataFrame(rows, SCHEMA)
    drop_ids, mutate_ids = perturb
    slave = master.where(~F.col("id").isin(list(drop_ids)) if drop_ids else F.lit(True))
    if mutate_ids:
        slave = slave.withColumn(
            "a",
            F.when(
                F.col("id").isin(list(mutate_ids)),
                F.coalesce(F.col("a"), F.lit(0)) + 100,
            ).otherwise(F.col("a")),
        )
    pk = ["id"]
    tagged = diff_keys(with_row_hash(master, pk), with_row_hash(slave, pk), pk)
    inserts = rows_to_copy(master, tagged.where(F.col("op") != "delete"), pk)
    merged = apply_delta(slave, inserts, tagged, pk)
    # convergence: merged ≡ master (exact multiset equality)
    assert merged.exceptAll(master).count() == 0
    assert master.exceptAll(merged).count() == 0
    # idempotence: digests agree and a re-diff plans nothing
    assert digests_equal(master, merged)
    rediff = diff_keys(with_row_hash(master, pk), with_row_hash(merged, pk), pk)
    assert rediff.count() == 0


@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=rows_strategy)
def test_digest_iff_equal(spark, rows):
    """digests_equal(a, b) is true iff the tables are content-equal —
    the short-circuit must never skip a real difference (soundness) nor
    row-diff identical tables (economy)."""
    master = spark.createDataFrame(rows, SCHEMA)
    same = spark.createDataFrame(list(reversed(rows)), SCHEMA)
    assert digests_equal(master, same)
    if rows:
        tweaked_rows = [
            (rows[0][0], (rows[0][1] or 0) + 1, rows[0][2], rows[0][3])
        ] + rows[1:]
        tweaked = spark.createDataFrame(tweaked_rows, SCHEMA)
        assert not digests_equal(master, tweaked)


@pytest.mark.slow
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    layout=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.integers(0, 3)),
                  st.one_of(st.none(), st.integers(0, 3))),
        min_size=2, max_size=6,
    )
)
def test_null_layouts_never_collide(spark, layout):
    """Generalized NullColumnTest: two rows hash equal iff their full
    NULL-layout-sensitive canonical form is equal."""
    df = spark.createDataFrame(
        [(i, *t) for i, t in enumerate(layout)],
        "id long, a int, b int, c int",
    )
    hashed = with_row_hash(df, ["id"], hash_cols=["a", "b", "c"]).collect()
    by_id = {r["id"]: r["__row_hash"] for r in hashed}
    for i, ti in enumerate(layout):
        for j, tj in enumerate(layout):
            if i < j:
                assert (by_id[i] == by_id[j]) == (ti == tj), (ti, tj)


# ---------------------------------------------------------------------------
# interval join ≡ naive nested-loop semantics (operators/interval.py)
# ---------------------------------------------------------------------------

points_strategy = st.lists(
    st.integers(min_value=0, max_value=500),  # point second offsets
    min_size=0, max_size=12,
)
intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),   # start offset
        st.integers(min_value=0, max_value=120),   # length
    ),
    min_size=0, max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=points_strategy, ivs=intervals_strategy,
       width=st.sampled_from([1, 13, 60, 600]))
def test_interval_join_equals_naive(spark, pts, ivs, width):
    """For arbitrary points/intervals and bucket widths, the bucketized
    join returns EXACTLY the pairs the naive quadratic scan returns."""
    import datetime as dt

    from mysql_syncer_spark.operators.interval import interval_join

    t0 = dt.datetime(2024, 6, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    points = spark.createDataFrame(
        [(i, ts(s)) for i, s in enumerate(pts)] or [(None, None)],
        "pid long, ts timestamp",
    ).where(F.col("pid").isNotNull())
    intervals = spark.createDataFrame(
        [(i, ts(s), ts(s + ln)) for i, (s, ln) in enumerate(ivs)]
        or [(None, None, None)],
        "wid long, w_start timestamp, w_end timestamp",
    ).where(F.col("wid").isNotNull())

    got = {
        (r["pid"], r["wid"])
        for r in interval_join(
            points, intervals, "ts", "w_start", "w_end", width
        ).collect()
    }
    expected = {
        (i, j)
        for i, s in enumerate(pts)
        for j, (ws, ln) in enumerate(ivs)
        if ws <= s < ws + ln
    }
    assert got == expected


# ---------------------------------------------------------------------------
# funnel ≡ brute-force greedy chain (operators/funnel.py)
# ---------------------------------------------------------------------------

event_stream = st.lists(
    st.tuples(
        st.integers(0, 3),                    # user
        st.integers(0, 50),                   # second offset
        st.sampled_from(["a", "b", "c"]),     # step type
    ),
    min_size=0, max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=event_stream)
def test_funnel_equals_bruteforce(spark, rows):
    import datetime as dt

    from mysql_syncer_spark.operators.funnel import funnel

    t0 = dt.datetime(2024, 3, 1)
    steps = ["a", "b", "c"]
    df = spark.createDataFrame(
        [(u, t0 + dt.timedelta(seconds=s), ty) for u, s, ty in rows]
        or [(None, None, None)],
        "user_id long, ts timestamp, event_type string",
    ).where(F.col("user_id").isNotNull())

    got = {
        r["user_id"]: (r["t0"], r["t1"], r["t2"], r["n_steps"])
        for r in funnel(df, "user_id", "ts", "event_type", steps).collect()
    }

    # brute-force greedy: earliest step-0, then earliest strictly-later
    # next step, per user
    expected = {}
    users = {u for u, _, _ in rows}
    for u in users:
        evts = sorted((s, ty) for uu, s, ty in rows if uu == u)
        times = []
        prev = None
        for step in steps:
            cand = [
                s for s, ty in evts
                if ty == step and (prev is None or s > prev)
            ]
            if prev is None and step == steps[0]:
                pick = min(cand) if cand else None
            else:
                pick = min(cand) if (cand and prev is not None) else None
            times.append(pick)
            prev = pick
        if times[0] is None:
            continue
        expected[u] = (
            *[None if t is None else t0 + dt.timedelta(seconds=t)
              for t in times],
            sum(t is not None for t in times),
        )
    assert got == expected


# ---------------------------------------------------------------------------
# Media-hash kernels vs naive reference implementations (pure Python —
# the Arrow/numpy fast paths must agree with the obvious spec)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(data=st.binary(min_size=0, max_size=4096))
def test_fingerprint_pcm_matches_naive(data):
    from mysql_syncer_spark.operators.audiohash import (
        FRAMES,
        fingerprint_pcm,
    )

    sig, n = fingerprint_pcm(data)
    # naive spec: s16le samples, frame k = [k*n//F, (k+1)*n//F),
    # integer energies, bit k iff e[k+1] > e[k]
    import struct as _struct

    usable = len(data) // 2 * 2
    samples = [
        _struct.unpack("<h", data[i:i + 2])[0]
        for i in range(0, usable, 2)
    ]
    assert n == len(samples)
    energies = []
    for k in range(FRAMES):
        lo = (k * n) // FRAMES
        hi = ((k + 1) * n) // FRAMES
        energies.append(sum(s * s for s in samples[lo:hi]))
    want = 0
    for k in range(FRAMES - 1):
        if energies[k + 1] > energies[k]:
            want |= 1 << k
    if want >= 1 << 63:
        want -= 1 << 64
    assert sig == want


@settings(max_examples=200, deadline=None)
@given(grid=st.binary(min_size=72, max_size=72))
def test_dhash_bits_matches_naive(grid):
    from mysql_syncer_spark.operators.imagehash import GRID, dhash_bits

    sig = dhash_bits(grid)
    want = 0
    for r in range(GRID):
        for c in range(GRID):
            if grid[r * (GRID + 1) + c + 1] > grid[r * (GRID + 1) + c]:
                want |= 1 << (r * GRID + c)
    if want >= 1 << 63:
        want -= 1 << 64
    assert sig == want
    # signed-long invariant: always representable as Spark LongType
    assert -(1 << 63) <= sig < 1 << 63


# ---------------------------------------------------------------------------
# round-7 third-wave kernels: quantile-summary invariants and the
# prefix-filter losslessness law under random inputs
# ---------------------------------------------------------------------------

quantile_values = st.lists(
    st.integers(min_value=-50, max_value=50).map(float),
    min_size=1,
    max_size=120,
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=quantile_values, capacity=st.integers(2, 16),
       p=st.floats(0.05, 1.0, allow_nan=False))
def test_quantile_sketch_invariants_random(spark, vals, capacity, p):
    """For ANY multiset, capacity, and probe: total mass is the exact
    row count, the answer is an actual data value, and its true rank
    is within err_bound of ceil(p*N)."""
    import bisect
    import math

    from pyspark.sql import functions as F

    from mysql_syncer_spark.operators.sketches import (
        quantile_merge,
        quantile_query,
        quantile_summaries,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(3)
    merged = quantile_merge(quantile_summaries(df, "v", capacity), capacity)
    assert merged.agg(F.sum("weight")).first()[0] == len(vals)
    r = quantile_query(merged, [p]).first()
    svals = sorted(vals)
    target = math.ceil(p * len(svals))
    lo = bisect.bisect_left(svals, r["value"]) + 1
    hi = bisect.bisect_right(svals, r["value"])
    dist = 0 if lo <= target <= hi else min(abs(lo - target), abs(hi - target))
    assert r["value"] in set(vals)
    assert dist <= r["err_bound"], (vals, capacity, p, r)


doc_texts = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=20),
    min_size=2,
    max_size=8,
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=doc_texts, threshold=st.sampled_from([0.4, 0.6, 0.8]))
def test_prefix_filter_lossless_random(spark, texts, threshold):
    """The prefix-filter join equals the all-postings baseline on ANY
    corpus and threshold (the PPJoin losslessness theorem) — tiny
    alphabet forces heavy shingle collisions, the worst case for a
    buggy prefix bound."""
    from mysql_syncer_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pp = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in jaccard_prefix_pairs(
            df, k=2, threshold=threshold, max_df=None
        ).collect()
    )
    base = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            df, k=2, threshold=threshold, max_df=None
        ).collect()
    )
    assert pp == base


sample_values = st.lists(
    st.integers(min_value=-20, max_value=20).map(float),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a_vals=sample_values, b_vals=sample_values)
def test_mwu_u_equals_pair_counting_random(spark, a_vals, b_vals):
    """U_a == #(a>b) + ties/2 for ANY two samples (the defining
    identity), and the dyadic rank sums make it exact."""
    from mysql_syncer_spark.operators.drift import mwu_drift

    a = spark.createDataFrame([(v,) for v in a_vals], "value double")
    b = spark.createDataFrame([(v,) for v in b_vals], "value double")
    r = mwu_drift(a, b, "value").first()
    want = sum(
        1.0 if x > y else 0.5 if x == y else 0.0
        for x in a_vals for y in b_vals
    )
    assert r["u_a"] == want


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=sample_values, c=st.sampled_from([1.0, 3.0]))
def test_mad_outliers_match_reference_random(spark, vals, c):
    """Flags equal the brute-force python reference (discrete medians,
    |x-med| > c*MAD) for ANY sample."""
    import math

    from mysql_syncer_spark.operators.stats import mad_outliers

    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    got = sorted(
        (r["v"], r["outlier"])
        for r in mad_outliers(df, ["g"], "v", c=c).collect()
    )
    sv = sorted(vals)
    med = sv[math.ceil(len(sv) / 2) - 1]
    devs = sorted(abs(x - med) for x in vals)
    mad = devs[math.ceil(len(devs) / 2) - 1]
    want = sorted((v, abs(v - med) > c * mad) for v in vals)
    assert got == want


# ---------------------------------------------------------------------------
# full-outer IVM: fold == recompute on randomized tables + deltas
# ---------------------------------------------------------------------------

_fo_rows_a = st.lists(
    st.tuples(
        st.integers(0, 20),                                  # pk (ok)
        st.one_of(st.none(), st.integers(0, 6)),             # jk (ck)
        st.integers(-9, 9),                                  # payload
    ),
    max_size=8,
    unique_by=lambda t: t[0],
)
_fo_rows_b = st.lists(
    st.tuples(
        st.integers(0, 6),                                   # pk == jk (ck)
        st.text("pq", max_size=2),                           # payload
    ),
    max_size=5,
    unique_by=lambda t: t[0],
)
# delta: (pk, new_jk_or_None, payload, is_delete) per side
_fo_delta_a = st.lists(
    st.tuples(
        st.integers(0, 20),
        st.one_of(st.none(), st.integers(0, 6)),
        st.integers(-9, 9),
        st.booleans(),
    ),
    max_size=6,
    unique_by=lambda t: t[0],
)
_fo_delta_b = st.lists(
    st.tuples(st.integers(0, 6), st.text("rs", max_size=2), st.booleans()),
    max_size=4,
    unique_by=lambda t: t[0],
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=_fo_rows_a, b=_fo_rows_b, da=_fo_delta_a, db=_fo_delta_b)
def test_full_outer_ivm_equals_recompute(spark, a, b, da, db):
    """The refresh-equivalence law under RANDOM tables and deltas —
    random jk moves, NULL join keys, deletes of rows that do or don't
    exist, dim pks that ARE the join key (the pad-ambiguity regime the
    presence markers exist for)."""
    from mysql_syncer_spark.operators.ivm import (
        apply_full_join_delta,
        apply_table_delta,
        full_join_snapshot,
    )

    a_df = spark.createDataFrame(a, "ok long, ck long, pay long")
    b_df = spark.createDataFrame(b, "ck long, name string")
    mat = full_join_snapshot(a_df, b_df, "ck")
    da_df = spark.createDataFrame(
        [(pk, jk, pay, "delete" if d else "upsert")
         for pk, jk, pay, d in da],
        "ok long, ck long, pay long, op string",
    )
    db_df = spark.createDataFrame(
        [(pk, nm, "delete" if d else "upsert") for pk, nm, d in db],
        "ck long, name string, op string",
    )
    folded = apply_full_join_delta(mat, da_df, db_df, "ck", "ok", "ck")
    a2 = apply_table_delta(a_df, da_df, ["ok"])
    b2 = apply_table_delta(b_df, db_df, ["ck"])
    recomputed = full_join_snapshot(a2, b2, "ck")
    cols = ["ok", "ck", "pay", "name"]

    def canon(df):
        return sorted((tuple(r) for r in df.select(*cols).collect()),
                      key=repr)

    assert canon(folded) == canon(recomputed)


# ---------------------------------------------------------------------------
# two-level support IVM: random signed batches == recompute
# ---------------------------------------------------------------------------

_sv_base = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),       # group 1 (NULL legal)
        st.integers(0, 2),                       # group 2 (composite key)
        st.sampled_from([1.0, 2.0, 5.0, 9.0]),   # value
    ),
    min_size=1,
    max_size=12,
)
_sv_ops = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.integers(0, 2),
        st.sampled_from([1.0, 2.0, 5.0, 9.0]),
        st.booleans(),                           # True = delete
    ),
    max_size=8,
)


@pytest.mark.slow
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(base=_sv_base, ops=_sv_ops)
def test_two_level_ivm_equals_recompute(spark, base, ops):
    """Extremum AND top-k-frequent folds equal the full recompute
    under RANDOM signed batches over COMPOSITE group keys including
    NULL — deletes are only admitted for rows currently present (the
    operator's stated precondition), so every generated batch is
    legal."""
    from mysql_syncer_spark.operators import incremental_agg as ia

    cur = list(base)
    batch = []
    for g1, g2, v, is_del in ops:
        if is_del:
            if (g1, g2, v) in cur:
                cur.remove((g1, g2, v))
                batch.append((g1, g2, v, -1))
        else:
            cur.append((g1, g2, v))
            batch.append((g1, g2, v, 1))
    base_df = spark.createDataFrame(
        base, "g1 string, g2 long, v double"
    )
    keys = ["g1", "g2"]
    sup = ia.value_support_snapshot(base_df, keys, "v")
    ext = ia.extremum_snapshot(sup, keys, "v")
    top = ia.frequent_values_from_support(sup, keys, "v", 2)
    if batch:
        d = spark.createDataFrame(
            batch, "g1 string, g2 long, v double, sign long"
        )
        sup = ia.apply_value_support_delta(sup, d, keys, "v")
        ext = ia.apply_extremum_delta(ext, sup, d, keys, "v")
        top = ia.apply_frequent_delta(top, sup, d, keys, "v", 2)
    cur_df = (
        spark.createDataFrame(cur, "g1 string, g2 long, v double")
        if cur
        else spark.createDataFrame([], "g1 string, g2 long, v double")
    )
    sup_ref = ia.value_support_snapshot(cur_df, keys, "v")

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert rows(ext) == rows(ia.extremum_snapshot(sup_ref, keys, "v"))
    assert rows(top) == rows(
        ia.frequent_values_from_support(sup_ref, keys, "v", 2)
    )


# ---------------------------------------------------------------------------
# Left-outer IVM with b_pk != on (the round-9 join-key-move fix):
# random signed delta batches, including dimension upserts that MOVE a
# row's join key, fold to the full LEFT recompute — chained two batches.
# ---------------------------------------------------------------------------

_facts_strategy = st.lists(
    st.tuples(
        st.integers(0, 15),                       # ok (fact pk)
        st.one_of(st.none(), st.integers(0, 6)),  # ck (join key, NULLable)
    ),
    max_size=8,
    unique_by=lambda t: t[0],
)

_dims_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),      # bid (dim pk)
        st.integers(0, 6),      # ck (join key)
        st.text("mn", max_size=2),
    ),
    max_size=6,
    unique_by=lambda t: t[0],
)

_dim_delta_strategy = st.lists(
    st.tuples(
        st.integers(0, 9),                    # bid
        st.integers(0, 6),                    # new ck (moves allowed!)
        st.text("pq", max_size=2),
        st.sampled_from(["upsert", "delete"]),
    ),
    max_size=5,
    unique_by=lambda t: t[0],
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(facts=_facts_strategy, dims=_dims_strategy,
       d1=_dim_delta_strategy, d2=_dim_delta_strategy)
def test_left_join_ivm_random_jk_moves(spark, facts, dims, d1, d2):
    from mysql_syncer_spark.operators.ivm import (
        apply_left_join_delta,
        apply_table_delta,
        left_join_snapshot,
    )

    a = spark.createDataFrame(facts or [(99, None)], "ok long, ck long")
    b = spark.createDataFrame(
        dims or [(99, 0, "z")], "bid long, ck long, name string"
    )
    mat = left_join_snapshot(a, b, "ck").localCheckpoint()
    da = spark.createDataFrame([], "ok long, ck long, op string")
    for batch in (d1, d2):
        # delete rows must carry the CURRENT on value (the documented
        # delta contract); recover it from b, drop unknown-pk deletes
        cur = {r["bid"]: r["ck"] for r in b.collect()}
        rows = []
        for bid, ck, name, op in batch:
            if op == "delete":
                if bid not in cur:
                    continue
                rows.append((bid, cur[bid], None, "delete"))
            else:
                rows.append((bid, ck, name, "upsert"))
        db = spark.createDataFrame(
            rows or [(99, 0, None, "delete")],
            "bid long, ck long, name string, op string",
        )
        mat = apply_left_join_delta(
            mat, da, b, db, "ck", "ok", "bid"
        ).localCheckpoint()
        b = apply_table_delta(b, db, ["bid"]).localCheckpoint()
        want = sorted(
            (tuple(r) for r in
             left_join_snapshot(a, b, "ck").select(*mat.columns).collect()),
            key=repr,
        )
        got = sorted((tuple(r) for r in mat.collect()), key=repr)
        assert got == want

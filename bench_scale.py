"""Scale-evidence harness (not the per-round bench): measures how the
engine's scale-sensitive paths trend as data grows, where sf0.1 sits
below the fixed-overhead floor.

Part 1 — indexed-ingest economics: the persisted-MinHash ingest gate
claims O(batch) per batch vs the recompute path's O(corpus). At sf0.1
(5k docs) both cost ~3s because job overhead dominates. Here the
corpus is scaled 1x/4x/16x with REPLICA-UNIQUE text (each word of
replica i is rewritten via md5(word||i), preserving length/shape but
sharing no shingles — plain replication would flood LSH with
cross-replica near-dups and measure the wrong thing) while the batch
stays fixed: recompute time must grow ~linearly with corpus, indexed
time must stay ~flat, and the ratio must cross the 2x done-bar.

Part 2 — sf1 tail smoke: the slowest headline keys once at a
synthesized sf1 (10x sf0.1, key-shifted replicas), recording wall
seconds + peak driver RSS.

Usage:
    python bench_scale.py ingest   # part 1 -> JSON lines
    python bench_scale.py tail     # part 2 -> JSON lines
Results are committed to BENCH_SCALE.md.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mysql_syncer_spark.sources.catalog import configure_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
WORK = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale")


def _session() -> SparkSession:
    spark = (
        configure_session(
            SparkSession.builder.master(f"local[{CPUS}]")
            .appName("mysql-syncer-spark-bench-scale")
            .config("spark.sql.shuffle.partitions", CPUS)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "24g")
        ).getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _peak_rss_mb() -> int:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024


def _jvm_peak_rss_mb(spark) -> int:
    """Peak RSS (VmHWM) of the driver JVM — the process that actually
    holds broadcast/collect state in local mode."""
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) // 1024
    except Exception:
        pass
    return -1


def _replica(docs, i: int):
    """Replica i of the docs table: ids shifted, every word rewritten
    to md5(word||i) truncated to the word's length — same corpus shape
    (doc count, lengths, token structure), zero shared shingles."""
    if i == 0:
        return docs
    return docs.withColumn(
        "doc_id", F.col("doc_id") + F.lit(i * 100_000_000)
    ).withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.substring(
                    F.md5(F.concat(w, F.lit(str(i)))), 1,
                    F.greatest(F.length(w), F.lit(1)),
                ),
            ),
        ),
    )


def run_ingest_scaling() -> None:
    from mysql_syncer_spark import queries as registry
    from mysql_syncer_spark.operators import dedup
    from mysql_syncer_spark.operators.minhash_index import (
        incremental_new_docs_indexed,
        minhash_index_read,
        minhash_index_write,
    )
    from mysql_syncer_spark.operators import sampling

    spark = _session()
    force(
        spark.range(0, int(CPUS) * 1000, 1, int(CPUS)).mapInPandas(
            lambda it: it, "id long"
        )
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b = sampling.hash_bucket("doc_id")
    base_corpus = docs.where(b < 9800)
    batch = docs.where(b >= 9800)
    os.makedirs(WORK, exist_ok=True)

    results = []
    for scale in (1, 4, 16):
        cpath = f"{WORK}/corpus_{scale}x.parquet"
        if not os.path.exists(cpath):
            parts = [_replica(base_corpus, i) for i in range(scale)]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.write.mode("overwrite").parquet(cpath)
        corpus = spark.read.parquet(cpath)
        n_corpus = corpus.count()
        n_batch = batch.count()

        # recompute path: min of 2 timed passes
        rec = []
        for _ in range(2):
            t0 = time.time()
            force(
                dedup.incremental_new_docs(
                    corpus, batch, num_hashes=16, bands=4, threshold=0.7
                )
            )
            rec.append(time.time() - t0)

        # indexed path: build once (timed separately), then min of 2
        name = f"scale_ingest_{scale}x"
        t0 = time.time()
        minhash_index_write(
            corpus, name, num_hashes=16, bands=4, num_buckets=32
        )
        build_s = time.time() - t0
        idx = minhash_index_read(spark, name)
        ind = []
        for _ in range(2):
            t0 = time.time()
            force(incremental_new_docs_indexed(idx, batch, threshold=0.7))
            ind.append(time.time() - t0)

        row = {
            "scale": scale,
            "corpus_docs": n_corpus,
            "batch_docs": n_batch,
            "recompute_sec": round(min(rec), 3),
            "indexed_sec": round(min(ind), 3),
            "index_build_sec": round(build_s, 3),
            "ratio": round(min(rec) / min(ind), 2),
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({"ingest_scaling": results}))


def synthesize_sf1(spark: SparkSession) -> str:
    """Write (once) and return the synthesized sf1 fixture dir: 10×
    sf0.1 via key-shifted replicas; documents get replica-UNIQUE text
    (plain id-shifted copies would make every doc a 10-clique of exact
    near-dups, so dedup keys would measure a pathological dup-density
    corpus instead of 10x growth of normal-shaped data)."""
    sf1 = f"{WORK}/sf1"
    os.makedirs(sf1, exist_ok=True)
    shifts = {
        "orders": ("o_orderkey", 100_000_000),
        "lineitem": ("l_orderkey", 100_000_000),
        "events": ("event_id", 1_000_000_000),
        "documents": ("doc_id", 100_000_000),
        "embeddings": ("vec_id", 100_000_000),
    }
    for t in ("region", "nation", "customer", "supplier", "part"):
        dst = f"{sf1}/{t}.parquet"
        if not os.path.exists(dst):
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.parquet(dst)
    for t, (key, shift) in shifts.items():
        dst = f"{sf1}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            parts = [_replica(src, i) for i in range(10)]
        else:
            parts = [
                src.withColumn(key, F.col(key) + F.lit(i * shift))
                for i in range(10)
            ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.parquet(dst)
    return sf1


def run_tail_smoke() -> None:
    """Slowest headline keys once at synthesized sf1 (10x sf0.1)."""
    from mysql_syncer_spark import queries as registry

    spark = _session()
    force(
        spark.range(0, int(CPUS) * 1000, 1, int(CPUS)).mapInPandas(
            lambda it: it, "id long"
        )
    )
    sf1 = synthesize_sf1(spark)

    qmap = registry.queries()
    # the r5/r6 bench tail (slowest keys at sf0.1) + scale-sensitive reps
    tail_keys = [
        "dedup_keep_best_docs",
        "cluster_safe_split_docs",
        "simhash_clusters_docs",
        "scd2_multibatch_orders",
        "sync_merge_orders",
        "minhash_lsh_pairs_docs",
        "incremental_new_docs",
        "incremental_ingest_2pct_indexed",
        "scrub_repeated_spans_docs",
        "interval_join_error_windows",
        "tpch_q10_returned_items",
        "gap_fill_daily_events",
        # r6 second half: the new heavy keys
        "anomaly_zscore_events",
        "cms_term_counts_docs",
        "snapshot_cdc_orders",
        "cluster_balanced_sample_embeddings",
        "tpch_q21_waiting_supplier",
        "tpch_q18_large_volume",
        "tpch_q8_market_share",
        "replicate_mixture_docs",
        # r6 third wave: sequence analytics, image dedup, SCD2 lookup
        "event_transitions",
        "attribution_events",
        "session_paths_events",
        "image_near_dup_media",
        "scd2_lookup_lineitem",
        "profile_drift_orders",
        "tpch_q1_incremental",
        # r6 fourth wave: media/graph/scrub additions
        "audio_near_dup_media",
        "video_near_dup_media",
        "knn_graph_embeddings",
        "scrub_repeated_windows_docs",
        # r7 third/fourth wave: the scale-relevant new keys (jaccard
        # prefix join, quantile fold, hybrid legs, MAD windows, PMI,
        # bitmap state, drift rank windows)
        "jaccard_prefix_pairs_docs",
        "quantile_sketch_lineitem",
        "hybrid_search_docs",
        "mad_outliers_events",
        "pmi_collocations_docs",
        "bitmap_distinct_users_events",
        "mwu_drift_events",
        # r8 second wave: outer-join IVM folds, two-level extremum,
        # t-closeness cells
        "ivm_left_join_orders_customer",
        "ivm_full_join_orders_customer",
        "ivm_extrema_orders",
        "t_closeness_customer",
        "t_closeness_ordered_customer",
        "ivm_frequent_orders",
        "golden_records_events",
        "token_budget_sample_docs",
            "bitmap_overlap_events",
        "ivm_distinct_orders",
        "ewma_chunked_daily_events",
    ]
    only = set(sys.argv[2:])
    if only:
        tail_keys = [k for k in tail_keys if k in only]
    out = {}
    for name in tail_keys:
        t0 = time.time()
        force(qmap[name](spark, sf1))
        out[name] = {
            "sec": round(time.time() - t0, 3),
            "py_peak_rss_mb": _peak_rss_mb(),
            "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf1_tail": out}))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def run_skew_torture() -> None:
    """Part 3 (round-9 VERDICT item 4) — the diff kernel under a
    pathological key distribution, at equal volume with a uniform
    twin:

    * lane A (diff_keys + apply_delta merge, partitioned data): ONE
      partition value holds 50% of all rows. The full-outer key
      compare joins on the pk (unique → no join hot key by
      construction) and the partition digest is a combinable groupBy
      (map-side partial agg absorbs the hot value before the shuffle)
      — the claim to demonstrate is wall-time parity with the uniform
      twin, not a skew-split.
    * lane B (hash-mode anti-joins): 1/3 of rows share IDENTICAL content,
      so the content-hash join key itself floods. This is the lane
      where AQE's skew-join split must ENGAGE — plan-gated by
      `skew=true` on the executed SortMergeJoin.

    The skew thresholds are lowered for the lane
    (skewedPartitionThresholdInBytes/advisoryPartitionSizeInBytes) so
    the mechanism trips at bench volume; at 100 TB the default 256 MB
    threshold trips naturally on the same shape. Shuffle compression
    is DISABLED for the lane: AQE decides skew by compressed block
    bytes, and a synthetic flood of byte-identical rows compresses to
    nothing (the first run measured the hot partition SMALLER than
    the median) — a real flood at scale shares the join key but not
    the payload bytes, which is what compression-off reproduces.
    Done-bar: lane A and lane B each within ~2x of their uniform
    twin, and lane B's plan shows the split.
    """
    from mysql_syncer_spark.canon import with_row_hash
    from mysql_syncer_spark.diff import (
        apply_delta,
        diff_keys,
        excess_rows,
        missing_rows,
        rows_to_copy,
    )

    spark = (
        configure_session(
            SparkSession.builder.master(f"local[{CPUS}]")
            .appName("mysql-syncer-spark-skew")
            .config("spark.sql.shuffle.partitions", CPUS)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "24g")
            .config("spark.shuffle.compress", "false")
            .config(
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes",
                "16m",
            )
            .config(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m"
            )
        ).getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", 8_000_000))

    pad = F.repeat(F.lit("x"), 48)

    def base_grp(skewed: bool):
        df = spark.range(0, n, 1, int(CPUS))
        grp = F.pmod(F.xxhash64("id"), F.lit(256))
        if skewed:
            # every even id lands in partition value 0 -> 50% hot
            grp = F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(grp)
        return df.select(
            "id", grp.alias("grp"),
            F.concat(F.lit("payload-"), F.col("id"), pad).alias("content"),
        )

    def base_flood(flooded: bool):
        # the hash-mode adversary: 1/3 of rows are byte-IDENTICAL full
        # rows (same pk, same content) — in mode='hash' the row
        # hash IS the join key (it covers the pk too, so merely
        # duplicated content with distinct pks never collides; full-row
        # duplicates are the only true flood, the no-PK-table shape)
        df = spark.range(0, n, 1, int(CPUS))
        hot = F.col("id") % 3 == 0
        if not flooded:
            hot = F.lit(False)
        return df.select(
            F.when(hot, F.lit(0)).otherwise(F.col("id")).alias("id"),
            F.when(hot, F.concat(F.lit("HOT-DUP-"), pad))
            .otherwise(F.concat(F.lit("payload-"), F.col("id"), pad))
            .alias("content"),
        )

    def perturb(df):
        # drop 0.5% of the unique rows, mutate 1% — the delta shape;
        # keyed on content so flood rows (duplicate ids) ride through
        uniq = F.xxhash64("content")
        return df.where(
            F.col("content").startswith("HOT-DUP-") | (uniq % 200 != 0)
        ).select(
            "id",
            *(["grp"] if "grp" in df.columns else []),
            F.when(
                (uniq % 100 == 0)
                & ~F.col("content").startswith("HOT-DUP-"),
                F.concat(F.col("content"), F.lit("-mut")),
            ).otherwise(F.col("content")).alias("content"),
        )

    out = {}
    # ---- lane A: the sync merge under the 50%-hot partition value --
    for tag, skewed in (("uniform", False), ("hot_partition", True)):
        m = base_grp(skewed)
        s = perturb(m)
        t0 = time.time()
        tagged = diff_keys(
            with_row_hash(m, ["id"]), with_row_hash(s, ["id"]), ["id"]
        )
        inserts = rows_to_copy(m, tagged.where(F.col("op") != "delete"), ["id"])
        merged = apply_delta(s, inserts, tagged, ["id"])
        assert merged.count() == n
        out[f"merge_pk_hash_{tag}_sec"] = round(time.time() - t0, 3)
    # ---- lane B: hash-mode diff under the full-row duplicate flood --
    plans = {}
    for tag, dup in (("uniform", False), ("hash_flood", True)):
        m = base_flood(dup)
        s = perturb(m)
        t0 = time.time()
        mh, sh = with_row_hash(m, ["id"]), with_row_hash(s, ["id"])
        ins = rows_to_copy(m, missing_rows(mh, sh, ["id"], mode="hash"),
                           ["id"]).count()
        # execute the delete df's OWN QueryExecution so the captured
        # plan is the final adaptive one (a .count() builds a new QE)
        deletes = excess_rows(mh, sh, ["id"], mode="hash")
        dele = len(deletes.collect())
        out[f"diff_hash_{tag}_sec"] = round(time.time() - t0, 3)
        out[f"diff_hash_{tag}_delta"] = int(ins + dele)
        plans[tag] = _executed_plan(deletes)
    out["hash_flood_skew_splits"] = plans["hash_flood"].count("skew=true")
    out["hash_flood_skewed_reads"] = plans["hash_flood"].count(
        "AQEShuffleRead skewed"
    )
    out["uniform_skew_splits"] = plans["uniform"].count("skew=true")
    out["merge_ratio"] = round(
        out["merge_pk_hash_hot_partition_sec"]
        / out["merge_pk_hash_uniform_sec"], 2,
    )
    out["diff_hash_ratio"] = round(
        out["diff_hash_hash_flood_sec"] / out["diff_hash_uniform_sec"], 2
    )
    assert out["hash_flood_skew_splits"] >= 1, (
        "AQE skew split did not engage on the flooded anti-join"
    )
    print(json.dumps({"skew_torture": out, "rows": n}), flush=True)


#: the five heaviest operators (r8 VERDICT's design-for-scale audit
#: list + the PQ pipeline), run under the memory ceiling
MEM_KEYS = (
    "pagerank_embeddings",
    "quality_propagate_embeddings",
    "ann_topk_pq",
    "token_budget_sample_docs",
    "ivm_full_join_orders_customer",
)


def run_memory_ceiling() -> None:
    """Part 4 (round-9 VERDICT item 6) — memory-ceiling evidence for
    the 100 TB claims: the heaviest operators at sf1 under a
    ``SPARK_GRAFT_MEM`` (default 512m) JVM heap. Local-mode caveat,
    which makes this lane STRICTLY HARSHER than a real cluster: the
    driver, the scheduler, and every executor thread share the ONE
    capped heap, so 512 MiB here is less than 512 MiB/executor on a
    1000-executor cluster. Parallelism drops to local[4] so the
    per-task share stays cluster-realistic; completion without OOM =
    the operator spills instead of crashing. Requires the sf1 fixture
    (run ``bench_scale.py tail`` once first, or any mode that
    synthesizes it)."""
    from mysql_syncer_spark import queries as registry

    heap = os.environ.get("SPARK_GRAFT_MEM", "512m")
    sf1 = f"{WORK}/sf1"
    if not os.path.exists(f"{sf1}/orders.parquet"):
        raise SystemExit(
            f"sf1 fixture missing at {sf1} — run bench_scale.py tail "
            "(or ingest) once with a normal heap to synthesize it"
        )
    spark = (
        configure_session(
            SparkSession.builder.master("local[4]")
            .appName("mysql-syncer-spark-mem-ceiling")
            .config("spark.sql.shuffle.partitions", "64")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", heap)
        ).getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qmap = registry.queries()
    out = {}
    for name in MEM_KEYS:
        t0 = time.time()
        force(qmap[name](spark, sf1))
        out[name] = {
            "sec": round(time.time() - t0, 3),
            "py_peak_rss_mb": _peak_rss_mb(),
            "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
        }
        print(json.dumps({name: out[name]}), flush=True)
    # r9 second wave: the spans family's 100 TB path is the WINNOWED
    # tier — the exact tier (registry oracle baseline) deliberately
    # restates the corpus ~k× in string keys and measurably OOMs a
    # 512 MiB local[4] heap at sf1, which is the point of having the
    # winnowed tier: same spans (fuzz-bounded), ~2/(w+1)-density
    # 8-byte fingerprints, fits the ceiling.
    from mysql_syncer_spark.operators.spans import duplicate_spans

    docs = spark.read.parquet(f"{sf1}/documents.parquet")
    t0 = time.time()
    force(duplicate_spans(docs, k=20, min_docs=2, winnow_w=8))
    out["duplicate_spans_winnowed"] = {
        "sec": round(time.time() - t0, 3),
        "py_peak_rss_mb": _peak_rss_mb(),
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
    }
    print(json.dumps({"duplicate_spans_winnowed":
                      out["duplicate_spans_winnowed"]}), flush=True)
    print(json.dumps({"mem_ceiling": out, "heap": heap}))


def run_spans_economics() -> None:
    """Round-9 second wave — E162 tier economics measured:

    * exact tier restates the corpus ~k× as k-char STRING keys;
      winnowing restates ~2/(w+1) of positions as 8-byte LONGS. The
      lane measures both the shuffled-row counts (exactly the claim)
      and wall time on an 8× replicated sf0.1 corpus.
    * the persisted index makes ingest O(batch): a 2% batch checked
      against the index must not pay the corpus re-fingerprint that
      the recompute twin pays.
    """
    import shutil
    import tempfile

    from mysql_syncer_spark.operators.spans import (
        duplicate_spans,
        duplicate_spans_against_index,
        ensure_span_index,
        kgram_positions,
        winnow_fingerprints,
    )

    spark = _session()
    K, W = 20, 8
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    reps = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat(F.lit(f"r{i}-"), F.col("text")).alias("text"),
        )
        for i in range(8)
    ]
    corpus = reps[0]
    for r in reps[1:]:
        corpus = corpus.unionByName(r)
    corpus = corpus.localCheckpoint(eager=True)
    print(f"corpus: {n_docs} docs x8 replicas = {corpus.count()}")

    gram_rows = kgram_positions(corpus, k=K).count()
    fp_rows = winnow_fingerprints(corpus, k=K, w=W).count()
    print(
        f"shuffled rows: exact={gram_rows} ({K}-char strings), "
        f"winnowed={fp_rows} (8-byte longs), "
        f"row ratio {gram_rows / fp_rows:.1f}x, "
        f"approx byte ratio "
        f"{(gram_rows * (K + 16)) / (fp_rows * 24):.1f}x"
    )

    t0 = time.time()
    force(duplicate_spans(corpus, k=K, min_docs=2))
    exact_s = time.time() - t0
    t0 = time.time()
    force(duplicate_spans(corpus, k=K, min_docs=2, winnow_w=W))
    winnow_s = time.time() - t0
    print(f"exact tier {exact_s:.1f}s, winnowed tier {winnow_s:.1f}s")

    wh = tempfile.mkdtemp(prefix="spanidx_bench_")
    spark.sql(f"CREATE DATABASE spanbench LOCATION '{wh}'")
    try:
        t0 = time.time()
        idx = ensure_span_index(
            corpus, "spanbench.docs", k=K, w=W, num_buckets=int(CPUS)
        )
        build_s = time.time() - t0
        batch = docs.where("doc_id % 50 = 0").select(
            (F.col("doc_id") + F.lit(99_000_000)).alias("doc_id"), "text"
        )
        nb = batch.count()
        t0 = time.time()
        force(duplicate_spans_against_index(batch, idx))
        indexed_s = time.time() - t0
        t0 = time.time()
        full = duplicate_spans(
            corpus.unionByName(batch), k=K, min_docs=2, winnow_w=W
        ).where(F.col("doc_id") >= 99_000_000)
        force(full)
        recompute_s = time.time() - t0
        print(
            f"index build {build_s:.1f}s once; ingest of {nb}-doc batch: "
            f"against-index {indexed_s:.1f}s vs full recompute "
            f"{recompute_s:.1f}s ({recompute_s / indexed_s:.1f}x)"
        )
    finally:
        spark.sql("DROP DATABASE IF EXISTS spanbench CASCADE")
        shutil.rmtree(wh, ignore_errors=True)




def run_keyed_fetch() -> None:
    """Round-10 VERDICT item 6 — the DBAPI small-delta point-fetch path
    (executor._stream_keyed_fetch), parallelized across
    max_parallel_tables worker threads, on a synthetic 100k-key fetch
    against a 200k-row on-disk sqlite master.

    What the lane proves: (a) the Arrow RecordBatch driver->JVM
    transfer (sources/dbapi._rows_to_df) roughly halves the per-chunk
    cost vs the row-pickle path; (b) the r10 worker pool overlaps the
    source-DB fetch (C, partial GIL release), the Arrow conversion and
    the per-chunk parquet spill (JVM), for >=2x over the serial r9
    shape at workers=8. Throughput stays DRIVER-ROUTED by design —
    this is the small-delta mode (SyncConfig.hash_pushdown docstring);
    the distributed JDBC/parquet paths own the first-sync economics.
    """
    import functools
    import shutil
    import sqlite3
    import tempfile

    from mysql_syncer_spark.config import SyncConfig
    from mysql_syncer_spark.executor import DBAPISyncExecutor
    from mysql_syncer_spark.sources.dbapi import DBAPICatalog

    spark = _session()
    dbpath = tempfile.mktemp(suffix=".db", prefix="keyed_fetch_")
    conn = sqlite3.connect(dbpath)
    conn.execute(
        "CREATE TABLE t (k INTEGER PRIMARY KEY, a TEXT, b REAL)"
    )
    conn.executemany(
        "INSERT INTO t VALUES (?,?,?)",
        ((i, f"value-{i:08d}", i * 0.5) for i in range(200_000)),
    )
    conn.commit()
    conn.close()
    master = DBAPICatalog(
        spark, functools.partial(sqlite3.connect, dbpath)
    )
    miss = spark.range(0, 200_000, 2).select("id")
    miss.count()  # materialize the plan before timing

    def measure(workers: int, catalog: DBAPICatalog) -> float:
        ex = DBAPISyncExecutor(
            catalog, catalog, SyncConfig(max_parallel_tables=workers)
        )
        best = None
        for _ in range(2):
            t0 = time.time()
            df, spill = ex._stream_keyed_fetch("t", miss, ["k"])
            n = df.count()
            dt = time.time() - t0
            shutil.rmtree(spill, ignore_errors=True)
            best = dt if best is None else min(best, dt)
        assert n == 100_000, n
        return round(best, 2)

    results = {}
    try:
        # r9 baseline: serial + row-pickle transfer
        base = DBAPICatalog(
            spark, functools.partial(sqlite3.connect, dbpath)
        )
        base._rows_to_df = (
            lambda rows, schema: spark.createDataFrame(
                [tuple(r) for r in rows], schema
            )
        )
        results["r9_serial_pickle_sec"] = measure(1, base)
        results["serial_arrow_sec"] = measure(1, master)
        results["parallel8_arrow_sec"] = measure(8, master)
    finally:
        os.unlink(dbpath)
    results["keys"] = 100_000
    results["parallel_ratio"] = round(
        results["serial_arrow_sec"] / results["parallel8_arrow_sec"], 2
    )
    results["vs_r9_ratio"] = round(
        results["r9_serial_pickle_sec"] / results["parallel8_arrow_sec"],
        2,
    )
    print(json.dumps({"keyed_fetch": results}))


def run_jdbc_skew() -> None:
    """Round-10 VERDICT item 7 — JDBCSyncExecutor partitioned diff-sync
    under partition imbalance, against a real JDBC database (embedded
    Derby): ONE partition value holds 50% of all rows (the skew-lane
    shape), the slave is perturbed inside BOTH the hot and a cold
    partition, and the sync must (a) converge, (b) touch only the
    differing partition values — the partition-pruned predicate is
    plan-gated by asserting the pushed JDBC filter covers exactly the
    differing values (the tests/test_hash_pushdown.py gate, exercised
    here at bench-visible volume under imbalance).
    """
    import tempfile

    from mysql_syncer_spark.config import SyncConfig
    from mysql_syncer_spark.executor import sync
    from mysql_syncer_spark.sources.catalog import DerbyCatalog

    spark = _session()
    tmp = tempfile.mkdtemp(prefix="jdbc_skew_")
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "derby.system.home", tmp
    )
    # 150k-row orders-like table, partition column "bucket" in 0..9;
    # bucket 0 holds 50% of rows (hot), the rest split the other half
    rows = spark.range(0, 150_000).selectExpr(
        "id AS k",
        "CASE WHEN id % 2 = 0 THEN 0 ELSE 1 + CAST(id % 9 AS INT) END"
        " AS bucket",
        "CAST(id % 9973 AS INT) AS payload",
    )
    master = DerbyCatalog(
        spark,
        f"jdbc:derby:{tmp}/master;create=true",
        partition_map={"skewed": "bucket"},
    )
    slave = DerbyCatalog(
        spark,
        f"jdbc:derby:{tmp}/slave;create=true",
        partition_map={"skewed": "bucket"},
    )
    for cat in (master, slave):
        cat.execute(cat.create_table_sql("skewed", rows.schema, ("k",)))
        cat.write_jdbc(rows, "skewed")
        cat.invalidate()
    # perturb inside the HOT partition (bucket 0) and one cold one
    # (bucket 3); buckets 1,2,4..9 must not be row-diffed
    slave.execute(
        'DELETE FROM "skewed" WHERE MOD("k", 500) = 0 AND "bucket" = 0',
        'UPDATE "skewed" SET "payload" = -1 '
        'WHERE MOD("k", 700) = 3 AND "bucket" = 3',
    )
    slave.invalidate()

    # plan gate: the partition-pruned read the executor issues for the
    # differing values must push the partition predicate INTO the JDBC
    # scan (the tests/test_hash_pushdown.py gate, here under imbalance)
    pruned = master.table("skewed").df.where(F.col("bucket").isin([0, 3]))
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in scan and "bucket" in scan, scan
    assert "In(bucket" in scan or "bucket IN" in scan.replace(
        '"', ""
    ), scan

    t0 = time.time()
    rep = sync(master, slave)  # default mode: partitioned diff path
    dt = time.time() - t0
    assert rep.ok, [r.error for r in rep.results if r.error]
    m, sl = master.table("skewed").df, slave.table("skewed").df
    assert m.subtract(sl).count() == 0 and sl.subtract(m).count() == 0
    t0 = time.time()
    rep2 = sync(master, slave)
    noop = time.time() - t0
    s2 = rep2.summary()
    assert s2["noop"] == s2["tables"], s2

    # pushdown twin at the same volume (whole-table hash map by design
    # for partitioned tables — minimal-egress mode)
    slave.execute(
        'DELETE FROM "skewed" WHERE MOD("k", 500) = 0 AND "bucket" = 0'
    )
    slave.invalidate()
    t0 = time.time()
    rep3 = sync(master, slave, SyncConfig(hash_pushdown=True))
    push = time.time() - t0
    assert rep3.ok, [r.error for r in rep3.results if r.error]
    m, sl = master.table("skewed").df, slave.table("skewed").df
    assert m.subtract(sl).count() == 0 and sl.subtract(m).count() == 0

    # partition-MOVE under skew (r11, VERDICT r10 item 6): rows leave
    # the HOT partition for a cold one on the slave — the
    # delete-before-insert guard (Synchronizer.php:496-517 semantics:
    # the same PK must be deleted from its old partition before the
    # master row is inserted, or the PK constraint fires). The diff
    # must touch exactly the two affected partition values.
    slave.execute(
        'UPDATE "skewed" SET "bucket" = 5 '
        'WHERE MOD("k", 400) = 0 AND "bucket" = 0'
    )
    slave.invalidate()
    n_moved = 150_000 // 400  # every 400th k is even, so bucket 0
    moved_scan = master.table("skewed").df.where(
        F.col("bucket").isin([0, 5])
    )
    mplan = moved_scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in mplan and "bucket" in mplan, mplan
    t0 = time.time()
    rep4 = sync(master, slave)
    move = time.time() - t0
    assert rep4.ok, [r.error for r in rep4.results if r.error]
    m, sl = master.table("skewed").df, slave.table("skewed").df
    assert m.subtract(sl).count() == 0 and sl.subtract(m).count() == 0
    by4 = {r.table: r for r in rep4.results}
    # a move is one delete (old partition) + one insert (new) per row
    assert by4["skewed"].inserted == n_moved, by4["skewed"].inserted
    assert by4["skewed"].deleted == n_moved, by4["skewed"].deleted

    by = {r.table: r for r in rep.results}
    print(json.dumps({
        "jdbc_skew": {
            "rows": 150_000,
            "hot_partition_share": 0.5,
            "inserted": by["skewed"].inserted,
            "deleted": by["skewed"].deleted,
            "partitioned_sync_sec": round(dt, 2),
            "noop_resync_sec": round(noop, 2),
            "pushdown_sync_sec": round(push, 2),
            "partition_move_rows": n_moved,
            "partition_move_sync_sec": round(move, 2),
            "pruned_scan_plan_gate": "PushedFilters In(bucket...)",
        }
    }))


def run_bitext_probe() -> None:
    """Round-11 VERDICT item 3 — measured probed-tier economics for
    margin-based bitext mining (E174). The exact tier scores |x|*|y|
    pairs per direction; the sign-LSH tier (8 bits, radius 1) scores
    only bucket-ball collisions (~|ball|/256 = 3.5% on uniformly
    bucketed data). The y-side corpus is scaled 1x/4x/16x with
    vec_id-shifted, component-jittered replicas (deterministic, no
    RNG) while the 500-vector x batch stays fixed — mining a fixed
    query batch against a growing corpus, the production shape. The
    lane records wall seconds for both tiers (exact skipped at 16x —
    it is the quadratic baseline, not the scale path) plus the MEASURED
    candidate fraction, which is the whole economic claim."""
    from mysql_syncer_spark.operators.similarity import (
        cosine_topk_batch_lsh,
        margin_align,
        with_sign_buckets,
    )
    from mysql_syncer_spark.sources.catalog import load_table

    spark = _session()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    x = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 1000))
    base_y = emb.where(F.col("vec_id") % 2 == 1)
    n_base = base_y.count()
    n_x = x.count()

    def y_at(scale: int):
        if scale == 1:
            return base_y
        reps = [base_y]
        for i in range(1, scale):
            # replica-unique: shift ids past the domain and jitter one
            # component deterministically so replicas are distinct
            # vectors in distinct buckets, not exact duplicates
            reps.append(
                base_y.select(
                    (F.col("vec_id") + F.lit(i * 10_000_000)).alias(
                        "vec_id"
                    ),
                    F.transform(
                        "embedding",
                        lambda v, j: v
                        + (
                            F.pmod(
                                F.xxhash64(
                                    F.col("vec_id"), j, F.lit(i)
                                ),
                                F.lit(1000),
                            ).cast("double")
                            / 1000.0
                            - 0.5
                        )
                        * 0.1,
                    ).alias("embedding"),
                )
            )
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        return out

    results: dict = {"x_rows": n_x, "y_base_rows": n_base}
    for scale in (1, 4, 16):
        y = y_at(scale).localCheckpoint(eager=True)
        ny = y.count()
        row: dict = {"y_rows": ny}
        if scale <= 4:
            t0 = time.time()
            force(margin_align(x, y, k=4, threshold=0.0))
            row["exact_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        force(
            margin_align(
                x, y, k=4, threshold=0.0, probe_bits=8, probe_radius=1
            )
        )
        row["probed_sec"] = round(time.time() - t0, 2)
        # measured candidate fraction: bucket-ball collisions / |x||y|
        from mysql_syncer_spark.operators.similarity import (
            _hamming_ball,
            sign_bucket,
        )

        xq = x.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )

        masks = _hamming_ball(0, 8, 1)
        qb = xq.select(
            "query_id", sign_bucket(F.col("qv"), 8).alias("__qb")
        )
        qprobes = qb.select(
            "query_id",
            F.explode(
                F.array(
                    *[F.col("__qb").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("__pb"),
        )
        ycnt = (
            with_sign_buckets(y)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        scored = (
            qprobes.join(ycnt, F.col("bucket") == F.col("__pb"))
            .agg(F.sum("n").alias("s"))
            .collect()[0]
            .s
            or 0
        )
        row["candidate_fraction"] = round(scored / (n_x * ny), 4)
        results[f"scale_{scale}x"] = row
        y.unpersist()
    print(json.dumps({"bitext_probe": results}))


def run_corpus_card_fold() -> None:
    """E183 O(batch) lane (VERDICT r11 item 4): the MinHash-index
    lane's methodology applied to the persisted corpus-card state.
    Build the bucketed state over corpora at 1x/4x/16x, then fold a
    FIXED-SIZE batch; the fold cost must stay flat while the corpus
    (and its hash table) grows 16x, because nothing corpus-sized ever
    shuffles or rewrites — the anti-join reads the bucketed hash table
    in place (one md5 column, exchange-free; plan-gated here and in
    tests/test_text.py), the aggs overwrite is |slices| rows, and the
    hash append is batch-sized. The recompute column is the O(corpus)
    alternative (full corpus_card over corpus+batch) priced for
    contrast. At scale 1x the fold is also VALUE-verified against the
    recompute card (the E183 law at bench size)."""
    from mysql_syncer_spark.operators import sampling
    from mysql_syncer_spark.operators.text import (
        corpus_card,
        corpus_card_fold_plan,
        corpus_card_from_state,
        corpus_card_state_fold,
        corpus_card_state_read,
        corpus_card_state_write,
    )
    from mysql_syncer_spark.sources.bucketed import physical_plan

    spark = _session()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b = sampling.hash_bucket("doc_id")
    base_corpus = docs.where(b < 9800)
    batch = docs.where(b >= 9800).localCheckpoint(eager=True)
    # second, disjoint-text batch (steady-state fold after the first)
    batch2 = _replica(batch, 99).localCheckpoint(eager=True)
    os.makedirs(WORK, exist_ok=True)
    group_cols = ["source", "lang"]

    results = []
    for scale in (1, 4, 16):
        cpath = f"{WORK}/corpus_{scale}x.parquet"
        if not os.path.exists(cpath):
            parts = [_replica(base_corpus, i) for i in range(scale)]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.write.mode("overwrite").parquet(cpath)
        corpus = spark.read.parquet(cpath)
        n_corpus = corpus.count()

        name = f"card_state_{scale}x"
        t0 = time.time()
        corpus_card_state_write(corpus, group_cols, name)
        build_s = time.time() - t0

        # plan gate BEFORE folding: bucketed state scan, and with
        # broadcast off (the at-scale shape) zero Exchange between
        # the hash-table scan and the anti-join
        prior_thresh = spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = physical_plan(
            corpus_card_fold_plan(spark, name, batch, group_cols)
        )
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prior_thresh
        )
        assert "Bucketed: true" in plan, plan

        t0 = time.time()
        corpus_card_state_fold(spark, name, batch, group_cols)
        fold_new_s = time.time() - t0

        if scale == 1:
            folded = sorted(
                tuple(r)
                for r in corpus_card_from_state(
                    corpus_card_state_read(spark, name)[0], group_cols
                ).collect()
            )
            direct = sorted(
                tuple(r)
                for r in corpus_card(
                    corpus.unionByName(batch), group_cols
                ).collect()
            )
            assert folded == direct, "fold != recompute at 1x"

        t0 = time.time()
        corpus_card_state_fold(spark, name, batch2, group_cols)
        fold_new2_s = time.time() - t0

        t0 = time.time()
        force(corpus_card(corpus.unionByName(batch), group_cols))
        recompute_s = time.time() - t0

        row = {
            "scale": scale,
            "corpus_docs": n_corpus,
            "batch_docs": batch.count(),
            "hash_rows": corpus_card_state_read(spark, name)[1].count(),
            "state_build_sec": round(build_s, 3),
            "fold_sec": round(fold_new_s, 3),
            "fold2_sec": round(fold_new2_s, 3),
            "recompute_sec": round(recompute_s, 3),
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    print(json.dumps({"corpus_card_fold": results}))


#: core-scaling lane keys (r13, VERDICT r12 item 3): operators whose
#: heavy stage is cluster-sized at sf1 — scans + shuffles + map-heavy
#: kernels across the diff/digest, agg, window, dedup and stats
#: families. The sf0.1 headline bench cannot show core scaling (keys
#: are overhead/driver-bound there); this lane is the evidence of
#: which operators actually parallelize.
CORE_SCALE_KEYS = [
    "sync_merge_orders",
    "missing_rows_orders",
    "table_digest_orders",
    "agg_pricing_summary",
    "sessionize_events",
    "minhash_lsh_pairs_docs",
    "simhash_near_dup_docs",
    "bootstrap_mean_ci_events",
    "duplication_profile_docs",
    "tpch_q1_pricing",
]


def run_core_scaling_child(cpus: str) -> None:
    """One fresh JVM at local[cpus]: CORE_SCALE_KEYS at synthesized
    sf1, 2 passes, per-key min; prints one JSON line."""
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    global CPUS
    CPUS = cpus
    from mysql_syncer_spark import queries as registry

    spark = _session()
    force(
        spark.range(0, int(cpus) * 1000, 1, int(cpus)).mapInPandas(
            lambda it: it, "id long"
        )
    )
    sf1 = synthesize_sf1(spark)
    qmap = registry.queries()

    def one_pass() -> dict[str, float]:
        out = {}
        for k in CORE_SCALE_KEYS:
            spark.sparkContext.setJobDescription(f"core-scale {cpus}c {k}")
            t0 = time.time()
            force(qmap[k](spark, sf1))
            out[k] = round(time.time() - t0, 3)
        return out

    p1, p2 = one_pass(), one_pass()
    times = {k: min(p1[k], p2[k]) for k in p1}
    print(
        "CORE_SCALE_JSON:"
        + json.dumps(
            {"cpus": int(cpus), "times": times, "pass1": p1, "pass2": p2},
            separators=(",", ":"),
        ),
        flush=True,
    )
    spark.stop()


def run_core_scaling() -> None:
    """8 vs 32 cores over CORE_SCALE_KEYS at sf1-equivalent data, each
    core count in its own JVM (subprocess). Emits per-key speedups."""
    import subprocess

    here = os.path.abspath(__file__)
    rows = {}
    for cpus in ("32", "8"):
        proc = subprocess.run(
            [sys.executable, here, "cores_child", cpus],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(here),
        )
        blob = None
        for line in proc.stdout.splitlines():
            if line.startswith("CORE_SCALE_JSON:"):
                blob = json.loads(line[len("CORE_SCALE_JSON:"):])
        if blob is None:
            print(proc.stdout[-2000:], proc.stderr[-4000:], file=sys.stderr)
            sys.exit(1)
        rows[cpus] = blob
        print(json.dumps(blob, separators=(",", ":")), flush=True)
    ratios = {
        k: round(rows["8"]["times"][k] / max(rows["32"]["times"][k], 1e-9), 2)
        for k in CORE_SCALE_KEYS
    }
    print(json.dumps({"speedup_8c_to_32c": ratios}, separators=(",", ":")))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "ingest"
    if mode == "cores":
        run_core_scaling()
    elif mode == "cores_child":
        run_core_scaling_child(sys.argv[2])
    elif mode == "ingest":
        run_ingest_scaling()
    elif mode == "tail":
        run_tail_smoke()
    elif mode == "skew":
        run_skew_torture()
    elif mode == "mem":
        run_memory_ceiling()
    elif mode == "spans":
        run_spans_economics()
    elif mode == "keyed_fetch":
        run_keyed_fetch()
    elif mode == "jdbc_skew":
        run_jdbc_skew()
    elif mode == "bitext":
        run_bitext_probe()
    elif mode == "card":
        run_corpus_card_fold()
    else:
        raise SystemExit(f"unknown mode {mode!r}")

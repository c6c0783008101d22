"""Command-line entry points — the Spark mirror of the reference's
three executables (SURVEY.md §3):

* ``sync``            ≙ ``php src/project/main.php`` — full database sync
* ``sync-table``      ≙ ``php SyncTable.php <table>`` — one table
* ``sync-partition``  ≙ ``php SyncTablePartition.php <table> <col> <value>``
* ``plan``            — print the sync plan without executing (the
  reference has no equivalent; ``--dry-run`` on ``sync`` additionally
  counts the would-be row deltas)

Usage::

    python -m mysql_syncer_spark sync --master /data/master --slave /data/slave \
        --ignore '^tmp_' --partitioned orders=o_orderdate --parallel 8

Master/slave are parquet catalog directories (``<table>.parquet`` per
table). The reference's settings.php constants map 1:1 onto flags
(settings.php.tmpl: IGNORE_TABLES → --ignore, PARTITIONED_TABLE_DEFINITIONS
→ --partitioned, SYNC_SHARED_PARTITIONS → --no-shared-partitions,
COPY_TABLES_WITH_NO_PRIMARY → --no-copy-no-pk, USE_MULTI_PROCESSING →
--parallel, LOG_QUERIES → --dry-run).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from pyspark.sql import functions as F

from mysql_syncer_spark.pin import pin

from mysql_syncer_spark.config import SyncConfig
from mysql_syncer_spark.executor import ParquetSyncExecutor, SyncReport
from mysql_syncer_spark.plans.plan import plan_sync
from mysql_syncer_spark.sources.catalog import ParquetCatalog, configure_session


def _parse_kv(pairs: list[str], what: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for p in pairs:
        if "=" not in p:
            raise SystemExit(f"--{what} expects TABLE=VALUE, got {p!r}")
        k, v = p.split("=", 1)
        out[k] = v
    return out


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="mysql_syncer_spark",
        description="PySpark-native database diff & sync engine",
    )
    sub = ap.add_subparsers(dest="command", required=True)

    def common(p: argparse.ArgumentParser) -> None:
        p.add_argument("--master", required=True, help="master catalog dir")
        p.add_argument("--slave", required=True, help="slave catalog dir")
        p.add_argument("--ignore", action="append", default=[],
                       help="regex of tables to exclude (repeatable)")
        p.add_argument("--partitioned", action="append", default=[],
                       metavar="TABLE=COL",
                       help="partition-wise sync for TABLE on COL (repeatable)")
        p.add_argument("--pk", action="append", default=[],
                       metavar="TABLE=COL[,COL...]",
                       help="override primary key columns (repeatable)")
        p.add_argument("--no-shared-partitions", action="store_true",
                       help="sync only missing/excess partitions, never "
                            "diff partitions present on both sides")
        p.add_argument("--no-copy-no-pk", action="store_true",
                       help="skip (instead of full-copy) tables with no PK")
        p.add_argument("--dry-run", action="store_true",
                       help="plan + count deltas, mutate nothing")
        p.add_argument("--parallel", type=int, default=8,
                       help="concurrent table syncs (1 = serial)")
        p.add_argument("--cpus", default="*",
                       help="local[N] cores when the CLI owns the session")
        p.add_argument("--shuffle-partitions", type=int, default=32)

    p_sync = sub.add_parser("sync", help="full database sync (main.php)")
    common(p_sync)

    p_tbl = sub.add_parser("sync-table",
                           help="single-table sync (SyncTable.php)")
    common(p_tbl)
    p_tbl.add_argument("--table", required=True)

    p_part = sub.add_parser(
        "sync-partition",
        help="single-partition sync (SyncTablePartition.php)")
    common(p_part)
    p_part.add_argument("--table", required=True)
    p_part.add_argument("--column", required=True,
                        help="partition column name")
    p_part.add_argument("--value", required=True,
                        help="partition value (cast to the column type)")

    p_plan = sub.add_parser("plan", help="print the sync plan, execute nothing")
    common(p_plan)

    def session_opts(p: argparse.ArgumentParser) -> None:
        p.add_argument("--cpus", default="*")
        p.add_argument("--shuffle-partitions", type=int, default=32)

    def index_opts(p: argparse.ArgumentParser) -> None:
        p.add_argument("--name", required=True,
                       help="catalog name prefix for the index tables")
        p.add_argument("--id-col", default="doc_id")
        p.add_argument("--text-col", default="text")

    p_idx = sub.add_parser(
        "index-build",
        help="build the persisted MinHash corpus index (one-time layout "
             "job; makes every later ingest O(batch))")
    p_idx.add_argument("--docs", required=True,
                       help="parquet file/dir of the corpus table")
    index_opts(p_idx)
    p_idx.add_argument("--k", type=int, default=5, help="shingle length")
    p_idx.add_argument("--num-hashes", type=int, default=32)
    p_idx.add_argument("--bands", type=int, default=8)
    p_idx.add_argument("--num-buckets", type=int, default=32)
    session_opts(p_idx)

    p_ing = sub.add_parser(
        "ingest",
        help="admit a batch through the indexed dedup gate: rows that "
             "are neither exact nor near dups of the indexed corpus")
    p_ing.add_argument("--batch", required=True,
                       help="parquet file/dir of the incoming batch")
    index_opts(p_ing)
    p_ing.add_argument("--out", required=True,
                       help="parquet path for admitted rows")
    p_ing.add_argument("--threshold", type=float, default=0.5,
                       help="estimated-Jaccard near-dup threshold")
    p_ing.add_argument("--append", action="store_true",
                       help="fold admitted rows back into the index "
                            "(tomorrow's batch dedups against them)")
    session_opts(p_ing)

    p_cur = sub.add_parser(
        "curate",
        help="end-to-end corpus curation: Gopher quality gate -> exact "
             "dedup -> SimHash near-dup keep-best -> PII redaction -> "
             "leakage-safe split -> sharded training export")
    p_cur.add_argument("--docs", required=True,
                       help="parquet file/dir of the documents table")
    p_cur.add_argument("--out", required=True,
                       help="output dir (split=<name>/shard=<k>/ layout)")
    p_cur.add_argument("--id-col", default="doc_id")
    p_cur.add_argument("--text-col", default="text")
    p_cur.add_argument("--min-words", type=int, default=30,
                       help="Gopher word-count floor (0 skips the gate)")
    p_cur.add_argument("--near-dup-bits", type=int, default=3,
                       help="SimHash Hamming radius (0 skips near-dup)")
    p_cur.add_argument("--no-pii", action="store_true",
                       help="keep raw text, skip PII redaction")
    p_cur.add_argument("--splits", default="train=0.9,val=0.05,test=0.05",
                       metavar="NAME=W[,NAME=W...]")
    p_cur.add_argument("--n-shards", type=int, default=8)
    session_opts(p_cur)

    p_card = sub.add_parser(
        "card",
        help="incrementally maintained corpus datasheet (E180/E183): "
             "--init builds the persisted per-slice state from a "
             "corpus, --fold folds ingest batches in at O(batch), "
             "--show renders the current card")
    p_card.add_argument("--state", required=True,
                        help="catalog name prefix of the persisted state")
    p_card.add_argument("--group-cols", default="source,lang",
                        metavar="COL[,COL...]")
    p_card.add_argument("--text-col", default="text")
    p_card.add_argument("--init", metavar="PARQUET",
                        help="build state from this corpus "
                             "(one-time layout job; replaces the state)")
    p_card.add_argument("--fold", metavar="PARQUET", action="append",
                        default=[],
                        help="fold an ingest batch into the state "
                             "(repeatable, applied in order)")
    p_card.add_argument("--show", action="store_true",
                        help="print the rendered card as JSON lines")
    session_opts(p_card)

    p_cf = sub.add_parser(
        "compact",
        help="rewrite a fragmented table directory to ~target-MB files "
             "(small-file maintenance; partition layout preserved)")
    p_cf.add_argument("--path", required=True,
                      help="table file/dir to compact in place")
    p_cf.add_argument("--target-mb", type=int, default=128)
    p_cf.add_argument("--partition-col", action="append", default=[],
                      help="partition column of the layout (repeatable)")
    p_cf.add_argument("--format", default="parquet", dest="fmt")
    session_opts(p_cf)

    p_dig = sub.add_parser(
        "digest",
        help="print a table's digest — the 32-byte cross-system "
             "'already in sync' handshake (Synchronizer.php:206-211)")
    p_dig.add_argument("--path", required=True,
                       help="parquet file/dir of the table")
    p_dig.add_argument("--pk", default="",
                       help="comma-separated PK columns (required for "
                            "--mysql-compat ordering)")
    p_dig.add_argument("--columns", default="",
                       help="hash column subset (default: all, in "
                            "schema order)")
    p_dig.add_argument(
        "--mysql-compat", action="store_true",
        help="also emit the byte-exact ordered MySQL digest and the "
             "SQL to run on a live MySQL master for comparison")
    p_dig.add_argument("--mysql-table", default="t",
                       help="db-side table name for the emitted SQL")
    session_opts(p_dig)

    p_int = sub.add_parser(
        "integrity",
        help="post-sync referential-integrity audit: FK orphans + "
             "duplicate PKs (the gate matching the reference's "
             "FOREIGN_KEY_CHECKS=0 sync mode)")
    p_int.add_argument("--db", required=True,
                       help="parquet catalog dir (<table>.parquet files)")
    p_int.add_argument(
        "--fk", action="append", default=[],
        help="child.col[,col...]=parent.col[,col...] — repeatable, e.g. "
             "--fk orders.o_custkey=customer.c_custkey")
    p_int.add_argument(
        "--unique", action="append", default=[],
        help="table.col[,col...] whose values must be unique — repeatable")
    p_int.add_argument(
        "--fail-on-violation", action="store_true",
        help="exit 1 if any constraint has violations")
    session_opts(p_int)

    p_q = sub.add_parser(
        "query",
        help="run any registered analytics query against a parquet "
             "catalog dir (the user-facing door to the full registry)")
    p_q.add_argument("name", nargs="?",
                     help="registered query name (omit with --list)")
    p_q.add_argument("--data",
                     help="dir of <table>.parquet fixture files")
    p_q.add_argument("--limit", type=int, default=20,
                     help="rows to print as JSON lines (default 20)")
    p_q.add_argument("--out-parquet",
                     help="write the FULL result here instead of printing")
    p_q.add_argument("--list", action="store_true",
                     help="list registered query names and exit")
    session_opts(p_q)

    p_scr = sub.add_parser(
        "scrub",
        help="exact-substring scrub: cut cross-doc duplicated spans "
             "(Lee et al. 2022) or spans shared with a benchmark set "
             "(surgical decontamination) and write the cleaned corpus")
    p_scr.add_argument("--docs", required=True,
                       help="input documents parquet")
    p_scr.add_argument("--out", required=True,
                       help="output parquet path (adds text_clean + "
                            "n_chars_removed)")
    p_scr.add_argument("--reference",
                       help="benchmark parquet: scrub spans shared with "
                            "IT instead of cross-doc duplicates")
    p_scr.add_argument("--k", type=int, default=20,
                       help="minimum duplicated span length in chars")
    p_scr.add_argument("--min-docs", type=int, default=2,
                       help="corpus doc-frequency bar (cross-doc mode)")
    p_scr.add_argument("--winnow", type=int, default=None,
                       help="winnowing window w (content-defined "
                            "fingerprints; detection >= w+k-1, the "
                            "100 TB tier). Omit for the exact tier")
    p_scr.add_argument("--id-col", default="doc_id")
    p_scr.add_argument("--text-col", default="text")
    session_opts(p_scr)

    p_cmp = sub.add_parser(
        "index-compact",
        help="rewrite the index tables with duplicate rows removed "
             "(replayed streaming appends accumulate benign dups)")
    p_cmp.add_argument("--name", required=True)
    session_opts(p_cmp)
    return ap


def _session(args) -> SparkSession:
    return (
        configure_session(
            SparkSession.builder.master(f"local[{args.cpus}]")
            .appName("mysql-syncer-spark-cli")
            .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
            .config("spark.scheduler.mode", "FAIR")
            .config("spark.ui.enabled", "false")
        ).getOrCreate()
    )


def _catalogs(spark, args) -> tuple[ParquetCatalog, ParquetCatalog, SyncConfig]:
    pk_map = {
        t: tuple(c.split(",")) for t, c in _parse_kv(args.pk, "pk").items()
    }
    part_map = _parse_kv(args.partitioned, "partitioned")
    cfg = SyncConfig(
        ignore_tables=tuple(args.ignore),
        partitioned_tables=part_map,
        sync_shared_partitions=not args.no_shared_partitions,
        copy_tables_with_no_primary=not args.no_copy_no_pk,
        max_parallel_tables=args.parallel,
        dry_run=args.dry_run,
    )
    master = ParquetCatalog(spark, args.master, pk_map=pk_map or None,
                            partition_map=part_map or None)
    slave = ParquetCatalog(spark, args.slave, pk_map=pk_map or None,
                           partition_map=part_map or None)
    return master, slave, cfg


def _emit(report: SyncReport, out) -> int:
    for r in report.results:
        print(json.dumps({
            "table": r.table, "action": r.action, "status": r.status,
            "inserted": r.inserted, "deleted": r.deleted,
            "seconds": round(r.seconds, 3),
            **({"error": r.error} if r.error else {}),
        }), file=out)
    print(json.dumps({"summary": report.summary()}), file=out)
    return 0 if report.ok else 1


def _run_index_command(spark: SparkSession, args, out) -> int:
    """The daily-ingest pair: ``index-build`` signs the corpus once into
    bucketed catalog tables; ``ingest`` runs the O(batch) gate against
    them (optionally folding admissions back in)."""
    from mysql_syncer_spark.operators.minhash_index import (
        incremental_new_docs_indexed,
        minhash_index_append,
        minhash_index_compact,
        minhash_index_read,
        minhash_index_write,
    )

    if args.command == "index-compact":
        # read first: re-attaches the tables in a fresh session
        before = minhash_index_read(spark, args.name).signatures.count()
        minhash_index_compact(spark, args.name)
        after = spark.table(f"{args.name}_sig").count()
        print(json.dumps({
            "index": args.name, "sig_rows_before": before,
            "sig_rows_after": after,
        }), file=out)
        return 0

    if args.command == "index-build":
        corpus = spark.read.parquet(args.docs)
        minhash_index_write(
            corpus, args.name, id_col=args.id_col, text_col=args.text_col,
            k=args.k, num_hashes=args.num_hashes, bands=args.bands,
            num_buckets=args.num_buckets,
        )
        idx = minhash_index_read(spark, args.name)
        print(json.dumps({
            "index": args.name, "docs": corpus.count(),
            "num_hashes": idx.num_hashes, "bands": idx.bands,
            "num_buckets": idx.num_buckets,
        }), file=out)
        return 0

    idx = minhash_index_read(spark, args.name)
    batch = spark.read.parquet(args.batch)
    admitted = incremental_new_docs_indexed(
        idx, batch, text_col=args.text_col, threshold=args.threshold
    ).transform(pin, required=True)  # gate once; write + append reuse it
    admitted.write.mode("overwrite").parquet(args.out)
    if args.append:
        minhash_index_append(args.name, admitted, idx,
                             text_col=args.text_col)
    print(json.dumps({
        "index": args.name, "batch_rows": batch.count(),
        "admitted_rows": admitted.count(), "out": args.out,
        "appended": bool(args.append),
    }), file=out)
    return 0


def main(argv: list[str] | None = None, spark: SparkSession | None = None,
         out=None) -> int:
    """Entry point. ``spark``/``out`` are injectable for tests; when the
    CLI owns the session it stops it on exit."""
    args = build_parser().parse_args(argv)
    out = out or sys.stdout
    owns = spark is None
    spark = spark or _session(args)
    try:
        if args.command == "compact":
            from mysql_syncer_spark.sources.layout import compact_files

            stats = compact_files(
                spark, args.path, target_mb=args.target_mb,
                partition_cols=args.partition_col or None, fmt=args.fmt,
            )
            print(json.dumps({"path": args.path, **stats}), file=out)
            return 0
        if args.command == "curate":
            from mysql_syncer_spark.pipeline import curate_and_export

            weights = {
                k: float(v)
                for k, v in (kv.split("=") for kv in args.splits.split(","))
            }
            rep = curate_and_export(
                spark.read.parquet(args.docs),
                args.out,
                id_col=args.id_col,
                text_col=args.text_col,
                min_words=args.min_words,
                near_dup_max_bits=args.near_dup_bits,
                redact_pii=not args.no_pii,
                split_weights=weights,
                n_shards=args.n_shards,
            )
            print(json.dumps({"out": args.out, **rep.as_dict()}), file=out)
            return 0
        if args.command == "card":
            from mysql_syncer_spark.operators.text import (
                corpus_card_from_state,
                corpus_card_state_fold,
                corpus_card_state_read,
                corpus_card_state_write,
            )

            gcols = args.group_cols.split(",")
            if not (args.init or args.fold or args.show):
                print(json.dumps(
                    {"error": "nothing to do (use --init/--fold/--show)"}
                ), file=out)
                return 2
            if args.init:
                corpus_card_state_write(
                    spark.read.parquet(args.init), gcols, args.state,
                    text_col=args.text_col,
                )
            for b in args.fold:
                corpus_card_state_fold(
                    spark, args.state, spark.read.parquet(b), gcols,
                    text_col=args.text_col,
                )
            if args.show:
                aggs, _ = corpus_card_state_read(spark, args.state)
                card = corpus_card_from_state(aggs, gcols)
                for line in card.orderBy(*gcols).toJSON().collect():
                    print(line, file=out)
            else:
                aggs, hashes = corpus_card_state_read(spark, args.state)
                print(json.dumps({
                    "state": args.state,
                    "slices": aggs.count(),
                    "distinct_hashes": hashes.count(),
                }), file=out)
            return 0
        if args.command == "integrity":
            from mysql_syncer_spark.operators.profile import (
                duplicate_pks, fk_orphans, integrity_report,
            )

            def tbl(name):
                return spark.read.parquet(f"{args.db}/{name}.parquet")

            checks = []
            for spec in args.fk:
                child_s, parent_s = spec.split("=", 1)
                ct, ccols = child_s.split(".", 1)
                pt, pcols = parent_s.split(".", 1)
                checks.append((
                    f"{child_s}->{pt}",
                    fk_orphans(tbl(ct), tbl(pt), ccols.split(","),
                               pcols.split(",")),
                ))
            for spec in args.unique:
                t, cols = spec.split(".", 1)
                checks.append((
                    f"{spec} unique", duplicate_pks(tbl(t), cols.split(","))
                ))
            if not checks:
                print(json.dumps(
                    {"error": "no constraints given (use --fk/--unique)"}
                ), file=out)
                return 2
            rows = integrity_report(checks).collect()
            rep = {r["constraint"]: r["violations"] for r in rows}
            print(json.dumps({"db": args.db, "violations": rep}), file=out)
            bad = sum(rep.values())
            return 1 if (args.fail_on_violation and bad) else 0
        if args.command == "scrub":
            from mysql_syncer_spark.operators.spans import (
                remove_duplicate_spans,
                scrub_spans_between,
            )

            docs = spark.read.parquet(args.docs)
            if args.reference:
                cleaned = scrub_spans_between(
                    docs, spark.read.parquet(args.reference),
                    text_col=args.text_col, id_col=args.id_col,
                    k=args.k, winnow_w=args.winnow,
                )
            else:
                cleaned = remove_duplicate_spans(
                    docs, text_col=args.text_col, id_col=args.id_col,
                    k=args.k, min_docs=args.min_docs,
                    winnow_w=args.winnow,
                )
            cleaned.write.mode("overwrite").parquet(args.out)
            stats = spark.read.parquet(args.out).agg(
                F.count("*").alias("docs"),
                F.sum("n_chars_removed").alias("chars_removed"),
                F.sum(
                    (F.col("n_chars_removed") > 0).cast("long")
                ).alias("docs_touched"),
            ).first()
            print(json.dumps({
                "out": args.out,
                "docs": stats["docs"],
                "docs_touched": stats["docs_touched"],
                "chars_removed": stats["chars_removed"],
                "mode": "benchmark" if args.reference else "cross-doc",
                "tier": "winnowed" if args.winnow else "exact",
            }), file=out)
            return 0
        if args.command == "query":
            from mysql_syncer_spark import queries as registry

            qs = registry.queries()
            if args.list or not args.name:
                for name in sorted(qs):
                    print(json.dumps({"query": name}), file=out)
                return 0
            if args.name not in qs:
                print(
                    json.dumps({"error": f"unknown query: {args.name}"}),
                    file=out,
                )
                return 2
            if not args.data:
                print(
                    json.dumps({"error": "--data is required"}), file=out
                )
                return 2
            df = qs[args.name](spark, args.data)
            if args.out_parquet:
                df.write.mode("overwrite").parquet(args.out_parquet)
                n = spark.read.parquet(args.out_parquet).count()
                print(
                    json.dumps(
                        {"query": args.name, "rows": n,
                         "out": args.out_parquet}
                    ),
                    file=out,
                )
            else:
                for line in df.limit(args.limit).toJSON().collect():
                    print(line, file=out)
            return 0
        if args.command == "digest":
            from mysql_syncer_spark.digest import (
                mysql_digest_query,
                table_digest,
                table_digest_scalable,
                table_digest_mysql_compat,
            )

            df = spark.read.parquet(args.path)
            cols = (
                [c for c in args.columns.split(",") if c]
                or df.columns
            )
            row = table_digest_scalable(df, cols)
            rec = {
                "path": args.path,
                "row_count": row["row_count"],
                "hash_sum": str(row["hash_sum"]),
                "hash_xor": row["hash_xor"],
                "exact_digest": table_digest(df, cols),
            }
            if args.mysql_compat:
                pk = [c for c in args.pk.split(",") if c]
                if not pk:
                    raise SystemExit("--mysql-compat requires --pk")
                rec["mysql_compat_digest"] = table_digest_mysql_compat(
                    df, pk, cols
                )
                rec["mysql_query"] = mysql_digest_query(
                    args.mysql_table, cols, pk
                )
            print(json.dumps(rec), file=out)
            return 0
        if args.command in ("index-build", "ingest", "index-compact"):
            return _run_index_command(spark, args, out)
        master, slave, cfg = _catalogs(spark, args)
        ex = ParquetSyncExecutor(master, slave, cfg)
        if args.command == "plan":
            for u in plan_sync(master, slave, cfg):
                print(json.dumps({
                    "table": u.table, "action": u.action.value,
                    "reason": u.reason,
                    **({"partition_col": u.partition_col}
                       if u.partition_col else {}),
                }), file=out)
            return 0
        if args.command == "sync":
            return _emit(ex.run(), out)
        if args.command == "sync-table":
            return _emit(ex.run_single(args.table), out)
        if args.command == "sync-partition":
            import dataclasses

            cfg_part = dict(cfg.partitioned_tables)
            cfg_part.setdefault(args.table, args.column)
            ex.cfg = dataclasses.replace(cfg, partitioned_tables=cfg_part)
            return _emit(ex.run_single(args.table, args.value), out)
        raise SystemExit(f"unknown command {args.command!r}")
    finally:
        if owns:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

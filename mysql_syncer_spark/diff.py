"""Row-level diff kernels — the semantic core of the engine.

The reference materializes per-row hash maps into a scratch "sync" database
and computes two anti-joins with ``NOT IN`` subqueries over indexed hash
columns (src/project/Synchronizer.php:446-524 missing rows, :531-583 excess
rows). Here the hash maps are lazy DataFrames and the joins are Catalyst
joins — broadcast when one side is small, shuffled otherwise, with AQE
skew handling for free.

One compare kernel: :func:`diff_keys` full-outer joins the two
``(pk..., hash)`` projections once and tags each differing key ``insert``
(master only), ``delete`` (slave only) or ``update`` (both, hash
differs). The executor derives everything from that narrow frame: the
delta counts, the upsert keys (``op != 'delete'``), the delete keys
(``op != 'insert'``) and the key set :func:`apply_delta` anti-joins out.
Because the row hash covers the PK columns, a per-PK compare and a
(pk, hash) compare agree on every PK-unique table.

The anti-join primitives :func:`missing_rows` / :func:`excess_rows`
remain for the reference-faithful query keys and keep both join modes
(SURVEY.md §2.3 J7):

* ``mode="hash"`` (reference-faithful): set semantics on row *content* —
  duplicate-content rows with different PKs share a hash and are treated
  as one. This is exactly the reference's ``hash NOT IN (...)`` behavior.
* ``mode="pk_hash"`` (strict): a row is "same" only if PK *and* hash
  match — catches content that moved between PKs.
"""

from __future__ import annotations

from typing import Literal, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_syncer_spark.canon import HASH_COL

JoinMode = Literal["hash", "pk_hash"]


def _join_cols(pk_cols: Sequence[str], mode: JoinMode) -> list[str]:
    return [HASH_COL] if mode == "hash" else [*pk_cols, HASH_COL]


def missing_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
    mode: JoinMode = "hash",
) -> DataFrame:
    """PKs of rows present on master but not on slave → to INSERT.

    Mirrors Synchronizer.php:446-524: anti-join on hash, *returns PKs*.
    """
    on = _join_cols(pk_cols, mode)
    return (
        master_hashes.join(slave_hashes, on=on, how="left_anti").select(*pk_cols)
    )


def excess_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
    mode: JoinMode = "hash",
) -> DataFrame:
    """PKs of rows present on slave but not on master → to DELETE.

    Mirrors Synchronizer.php:531-583 (symmetric anti-join).
    """
    on = _join_cols(pk_cols, mode)
    return (
        slave_hashes.join(master_hashes, on=on, how="left_anti").select(*pk_cols)
    )


def changed_rows(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """PKs present on BOTH sides whose hash differs → delete+reinsert pair.

    Not a distinct operator in the reference (a changed row simply shows up
    in both anti-joins); the executor gets these keys as ``update`` tags
    from :func:`diff_keys`.
    """
    m = master_hashes.select(*pk_cols, F.col(HASH_COL).alias("m_hash"))
    s = slave_hashes.select(*pk_cols, F.col(HASH_COL).alias("s_hash"))
    return (
        m.join(s, on=list(pk_cols), how="inner")
        .where(F.col("m_hash") != F.col("s_hash"))
        .select(*pk_cols)
    )


def rows_to_copy(
    master: DataFrame, keys: DataFrame, pk_cols: Sequence[str]
) -> DataFrame:
    """Fetch full rows for a set of PKs — semi join replaces the
    reference's chunked ``WHERE (pk...) IN ((...),...)`` point fetches
    (TableConnection.php:177-209, 5000 tuples per query)."""
    return master.join(keys, on=list(pk_cols), how="left_semi")


#: name of the tag column :func:`diff_keys` adds
OP_COL = "op"


def diff_keys(
    master_hashes: DataFrame,
    slave_hashes: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """The row-hash compare: ONE full-outer join of the two
    ``(pk..., __row_hash)`` projections, returning only the differing
    keys as a narrow ``(pk..., op)`` frame.

    ``op`` is ``insert`` (master only → the reference's missing rows,
    Synchronizer.php:446-524), ``delete`` (slave only → excess rows,
    :531-583) or ``update`` (both, hash differs → delete + reinsert,
    the delete-before-insert pair of Synchronizer.php:496-517).
    """
    on = list(pk_cols)
    m = master_hashes.select(*on, F.col(HASH_COL).alias("m_hash"))
    s = slave_hashes.select(*on, F.col(HASH_COL).alias("s_hash"))
    op = (
        F.when(F.col("s_hash").isNull(), F.lit("insert"))
        .when(F.col("m_hash").isNull(), F.lit("delete"))
        .when(F.col("m_hash") != F.col("s_hash"), F.lit("update"))
    )
    return (
        m.join(s, on=on, how="full_outer")
        .select(*on, op.alias(OP_COL))
        .where(F.col(OP_COL).isNotNull())
    )


def apply_delta(
    slave: DataFrame,
    inserts: DataFrame,
    keys: DataFrame,
    pk_cols: Sequence[str],
) -> DataFrame:
    """Pure-DataFrame merge: (slave ⟕̸ keys) ∪ inserts.

    File-mode equivalent of the reference's chunked DELETE + INSERT
    (TableConnection.php:289-387). ``keys`` must cover every PK that is
    deleted OR (re)inserted — :func:`diff_keys`' whole tagged frame
    does — so ONE anti-join removes both the doomed rows and the old
    versions of changed rows before the union adds the new ones.
    Delete-before-insert is inherent: the partition-move guard
    (Synchronizer.php:496-517) holds by construction.
    """
    kept = slave.join(keys.select(*pk_cols), on=list(pk_cols), how="left_anti")
    return kept.unionByName(inserts.select(*slave.columns))

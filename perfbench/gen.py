"""Seeded input generator for the sync benchmark.

Builds the TPC-H-shaped tables the workloads use (region, customer,
part, orders, lineitem) with the column names, types and row counts of
the sf-scaled test fixtures (TESTDATA.md), from a seed alone, and
the slave-side drift the churn workloads plant together with the delta
counts a correct ``sync()`` must report. Nothing is read from outside the
benchmark, so the same seed gives the same bytes on every host.

Churn rows are chosen by a seeded hash of the primary key (the row
index for the keyless ``lineitem``), so a row's fate does not depend on
the order in which tables or rows are generated.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "customer", "part", "orders", "lineitem")

#: primary keys the sync engine assumes for these tables
#: (``sources.catalog.DEFAULT_PKS``); lineitem has none
PKS = {
    "region": "r_regionkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
}

#: rows per unit of scale factor (sf0.1 holds a tenth of these)
_ROWS_PER_SF = {
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
#: range of the nation and supplier keys the generated rows refer to
_NATIONS = 25
_SUPPLIERS_PER_SF = 10_000

#: o_orderdate spans 1992-01-01 plus this many days, as in the fixtures
ORDER_DATES = 2405
_EPOCH_1992_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000

#: share of each PK table's rows dropped from / mutated on the slave
DROP_RATE = 0.005
MUTATE_RATE = 0.005
#: share of lineitem rows dropped from the slave
LINEITEM_DROP_RATE = 0.01
#: orders churn falls on the newest tenth of the order dates
RECENT_DATE_SHARE = 0.1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]
_FLAGS = ["A", "N", "R"]
_LINESTATUS = ["F", "O"]
_COLORS = [
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cream", "cyan", "dark",
]
_TYPES = [
    f"{a} {b} {c}"
    for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
]


def rows_at(table: str, sf: float) -> int:
    if table == "region":
        return 5
    return max(1, int(round(_ROWS_PER_SF[table] * sf)))


def unit_hash(seed: int, salt: int, keys: np.ndarray) -> np.ndarray:
    """Uniform floats in [0, 1) from a splitmix64 hash of ``keys``
    mixed with the seed and a per-table salt."""
    m = np.uint64(0xFFFFFFFFFFFFFFFF)
    x = keys.astype(np.uint64)
    x = x + np.uint64((seed * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & m
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & m
    x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _pick(vocab: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(vocab, pa.string()).take(pa.array(idx))


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng: np.random.Generator, sf: float) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS, pa.string()),
    })


def _customer(rng: np.random.Generator, sf: float) -> pa.Table:
    ck = np.arange(1, rows_at("customer", sf) + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(ck),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, _NATIONS, ck.size, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, ck.size, -999.99, 9999.99)),
        "c_mktsegment": _pick(_SEGMENTS, rng.integers(0, 5, ck.size)),
    })


def _part(rng: np.random.Generator, sf: float) -> pa.Table:
    pk = np.arange(1, rows_at("part", sf) + 1, dtype=np.int64)
    c1 = rng.integers(0, len(_COLORS), pk.size)
    c2 = rng.integers(0, len(_COLORS), pk.size)
    return pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{_COLORS[a]} {_COLORS[b]}" for a, b in zip(c1.tolist(), c2.tolist())],
            pa.string(),
        ),
        "p_brand": pa.array(
            [f"Brand#{v}" for v in rng.integers(11, 56, pk.size).tolist()],
            pa.string(),
        ),
        "p_type": _pick(_TYPES, rng.integers(0, len(_TYPES), pk.size)),
        "p_size": pa.array(rng.integers(1, 51, pk.size, dtype=np.int32)),
        "p_retailprice": pa.array(_money(rng, pk.size, 900.0, 2100.0)),
    })


def _orders(rng: np.random.Generator, sf: float) -> pa.Table:
    ok = np.arange(1, rows_at("orders", sf) + 1, dtype=np.int64)
    odays = rng.integers(0, ORDER_DATES, ok.size)
    customers = rows_at("customer", sf)
    return pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(1, customers + 1, ok.size, dtype=np.int64)),
        "o_orderstatus": _pick(_STATUSES, rng.integers(0, 3, ok.size)),
        "o_totalprice": pa.array(_money(rng, ok.size, 800.0, 500_000.0)),
        "o_orderdate": pa.array(_EPOCH_1992_US + odays * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": _pick(_PRIORITIES, rng.integers(0, 5, ok.size)),
    })


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    nl = rows_at("lineitem", sf)
    suppliers = max(1, int(round(_SUPPLIERS_PER_SF * sf)))
    lorder = np.sort(rng.integers(1, rows_at("orders", sf) + 1, nl, dtype=np.int64))
    # line numbers restart per order, so (l_orderkey, l_linenumber) is
    # unique here; full rows are distinct, which the multiset gate needs
    starts = np.r_[0, np.flatnonzero(np.diff(lorder)) + 1]
    run_len = np.diff(np.r_[starts, nl])
    lnum = (np.arange(nl) - np.repeat(starts, run_len) + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(lorder),
        "l_partkey": pa.array(rng.integers(1, rows_at("part", sf) + 1, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, suppliers + 1, nl, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(_FLAGS, rng.integers(0, 3, nl)),
        "l_linestatus": _pick(_LINESTATUS, rng.integers(0, 2, nl)),
        "l_shipdate": pa.array(
            _EPOCH_1992_US + rng.integers(1, ORDER_DATES + 120, nl) * _DAY_US,
            pa.timestamp("us"),
        ),
    })


_MAKERS = {
    "region": _region,
    "customer": _customer,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
}


def make_master(seed: int, sf: float, tables=TABLES) -> dict[str, pa.Table]:
    """The master catalog: one Arrow table per name in ``tables``. Each
    table draws from its own seeded stream, so it is the same whichever
    other tables are made with it."""
    return {
        t: _MAKERS[t](np.random.default_rng([seed, 0x5EED, _salt(t)]), sf)
        for t in tables
    }


#: column each PK table's mutation rewrites on the slave
_MUTATE = {
    "region": "r_name",
    "customer": "c_acctbal",
    "part": "p_retailprice",
    "orders": "o_totalprice",
}


@dataclass(frozen=True)
class Expected:
    """Delta counts a correct sync reports for one table."""

    inserted: int
    deleted: int


def _salt(table: str) -> int:
    return TABLES.index(table) + 1


def churn(table: str, master: pa.Table, seed: int) -> tuple[pa.Table, Expected]:
    """Slave copy of ``master`` with drift, plus the counts a correct
    pk_hash diff sync reports: dropped and mutated rows are missing on
    the slave (``inserted = dropped + mutated``) and the mutated slave
    versions are excess (``deleted = mutated``). lineitem, which has no
    PK, only loses rows and is copied whole, so its counts are 0/0."""
    if table == "lineitem":
        u = unit_hash(seed, _salt(table), np.arange(master.num_rows))
        return master.filter(pa.array(u >= LINEITEM_DROP_RATE)), Expected(0, 0)
    keys = master.column(PKS[table]).to_numpy()
    u = unit_hash(seed, _salt(table), keys)
    if table == "orders":
        # churn only the newest dates, at the rate that keeps the whole
        # table's churn near the other tables'
        days = (
            master.column("o_orderdate").cast(pa.int64()).to_numpy()
            - _EPOCH_1992_US
        ) // _DAY_US
        recent = days >= int(ORDER_DATES * (1 - RECENT_DATE_SHARE))
        scale = 1.0 / RECENT_DATE_SHARE
        drop = recent & (u < DROP_RATE * scale)
        mutate = recent & ~drop & (u < (DROP_RATE + MUTATE_RATE) * scale)
    else:
        drop = u < DROP_RATE
        mutate = ~drop & (u < DROP_RATE + MUTATE_RATE)
    col = _MUTATE[table]
    values = master.column(col)
    if pa.types.is_string(values.type):
        changed = pc.binary_join_element_wise(values, "(stale)", "")
    else:
        changed = pc.add(values, 1.0)
    mutated = pc.if_else(pa.array(mutate), changed, values)
    slave = master.set_column(master.schema.get_field_index(col), col, mutated)
    slave = slave.filter(pa.array(~drop))
    nd, nm = int(drop.sum()), int(mutate.sum())
    return slave, Expected(inserted=nd + nm, deleted=nm)


def write_table(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet part files under ``path``
    (a directory, as Spark writes it), so scans are not single-task."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files) if table.num_rows else 0
    for i in range(files):
        part = table.slice(i * step, step) if step else table
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))

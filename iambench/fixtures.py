"""Deterministic TPC-H-shaped fixture tables for the IAM benchmark.

The package derives its IAM property graph from seven relational
tables (FIXTURES.md section 2): customers become users, nations and
regions nested groups, suppliers service accounts, part brands roles,
part types permissions and part names projects. The benchmark runs in
a bare checkout, so it writes those tables itself, with the schemas
and cardinalities of the repository's synthetic scale factors:

    sf     customer  supplier  part    orders   lineitem
    0.001  150       10        200     1500     6000
    0.01   1500      100       2000    15000    60000
    0.1    15000     1000      20000   150000   600000

The tables depend only on the scale factor, never on the workload
seed: the seed picks the parameters and batches a run sends, and the
graph they run against stays the same across seeds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20141

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
N_BRANDS = 25
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "green", "grey", "ivory", "red", "salmon", "tan", "white")
NOUNS = ("bolt", "gear", "nut", "panel", "ring", "rod", "spring", "widget")
SIZES = 50
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LINES_PER_ORDER = 4

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def counts(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
    }


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _pick(choices, idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    # days since 1992-01-01, as millisecond timestamps
    days = rng.integers(0, 3650, n).astype("int64") + 8035
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def make_tables(sf: float) -> dict[str, pa.Table]:
    """The seven fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(DATA_SEED)
    n = counts(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    nl = no * LINES_PER_ORDER

    region = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(
                [i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()
            ),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, len(SEGMENTS), nc)),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
        }
    )
    projects = [f"{c} {w}" for c in COLORS for w in NOUNS]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_, dtype="int64")),
            "p_name": _pick(projects, rng.integers(0, len(projects), np_)),
            "p_brand": _pick(
                [f"Brand#{i}" for i in range(N_BRANDS)],
                rng.integers(0, N_BRANDS, np_),
            ),
            "p_type": _pick(TYPES, rng.integers(0, len(TYPES), np_)),
            "p_size": pa.array(rng.integers(1, SIZES + 1, np_).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + np.arange(np_) * 0.1, 2)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, no)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
            "o_orderdate": _ts(rng, no),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, no)),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(no, dtype="int64"), LINES_PER_ORDER)),
            "l_partkey": pa.array(rng.integers(0, np_, nl).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype="int32"), no)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(("A", "N", "R"), rng.integers(0, 3, nl)),
            "l_linestatus": _pick(("F", "O"), rng.integers(0, 2, nl)),
            "l_shipdate": _ts(rng, nl),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_fixture(sf: float, out_dir: str) -> str:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

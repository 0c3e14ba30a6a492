"""Seeded generator of the TPC-H-shaped input tables.

The benchmark makes every input from its ``--seed``: the same seed gives
byte-identical tables. The schema and value domains follow the repository's
query registry (``duckdb_delta_spark/queries/tpch.py``): the eight TPC-H
tables minus ``partsupp``, narrow columns, uniform keys, dates in
1995-2001, and prices, discounts and taxes as exact two-decimal doubles so
the registry's fixed-point decimal sums stay exact.

Row counts scale with ``sf`` like dbgen: lineitem ~6M*sf, orders 1.5M*sf,
customer 150k*sf, part 200k*sf, supplier 10k*sf.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_NAME_WORDS = (["blue", "cold", "hot", "large", "old", "red", "small", "tiny"],
               ["bolt", "gear", "nut", "plate", "ring", "screw", "washer",
                "wheel"])
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Exact two-decimal doubles in [lo, hi]."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    d = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(_EPOCH_1995_US + d * _DAY_US, pa.timestamp("us"))


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All seven tables for ``seed`` at scale ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    w1 = rng.integers(0, len(_NAME_WORDS[0]), n_part)
    w2 = rng.integers(0, len(_NAME_WORDS[1]), n_part)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{_NAME_WORDS[0][a]} {_NAME_WORDS[1][b]}"
                            for a, b in zip(w1.tolist(), w2.tolist())]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part).tolist()]),
        "p_type": _choice(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, 0, 2499, n_line),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}

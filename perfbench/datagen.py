"""Seeded generator of the engine's input tables.

Writes the ten catalog tables (``cyber_etl_spark.sources.catalog.TABLES``)
as one flat ``<name>.parquet`` file each, with the column names, types and
value distributions of the TPC-H-ish synthetic layout the queries are
written against: uniform keys and measures, 2-decimal money columns,
midnight dates, a sorted event stream, a 30-word document vocabulary with
5 % near-duplicate documents, and unit-norm 64-d embeddings.

Row counts scale with ``sf`` like the reference layout: ``sf=0.1`` gives
600 000 lineitem rows.  The benchmark always generates with ``DATA_SEED``,
so every run at one scale reads the same bytes; its ``--seed`` only orders
the queries.

Compare the generated tables with a reference copy of the layout, column
by column (rows, min, max, distinct values, mean, standard deviation)::

    python3 perfbench/datagen.py --sf 0.1 --compare <dir with the ten tables>
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_NATIONS = 25
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DATA_SEED = 42
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform on ``[lo, hi]``, rounded to cents (so the end points are
    half as likely as the cents between them)."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> np.ndarray:
    """Midnight timestamps ``first .. first+span-1`` days after 1995-01-01."""
    d = rng.integers(first, first + span, n).astype("int64")
    return _EPOCH_1995 + (d * _DAY_US).astype("timedelta64[us]")


def _choice(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5 % near-duplicates: a copy of an earlier document plus one marker word
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables for scale ``sf`` and ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(1, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (max(1, int(k * sf)) for k in (1_500_000, 6_000_000, 1_000_000))
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    out = {
        "region": pa.table(
            {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(_NATIONS)),
                "n_name": pa.array([f"NATION_{i}" for i in range(_NATIONS)]),
                "n_regionkey": i32(np.arange(_NATIONS) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": _keyed_names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, _NATIONS, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": _keyed_names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, _NATIONS, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": i64(pk),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, _PTYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2405, n_ord),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": _money(rng, 0.0, 0.10, n_line),
            "l_tax": _money(rng, 0.0, 0.08, n_line),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, 1, 2499, n_line),
        }
    )
    # a sorted stream over 30 days: exponential gaps, distinct microsecond ts
    gaps_us = np.maximum(1, rng.exponential(30 * _DAY_US / n_ev, n_ev)).astype("int64")
    out["events"] = pa.table(
        {
            "event_id": i64(np.arange(n_ev)),
            "ts": np.datetime64("2024-01-01", "us")
            + np.cumsum(gaps_us).astype("timedelta64[us]"),
            "user_id": i64(rng.integers(0, n_users, n_ev)),
            "event_type": _choice(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def ensure(root: str, sf: float, seed: int = DATA_SEED) -> str:
    """Directory holding the ``(sf, seed)`` tables under ``root``; written
    once (to a temporary sibling, then renamed) and reused afterwards."""
    path = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    try:
        os.rename(tmp, path)
    except OSError:  # another process won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _column_stats(con, path: str, col: str, sql_type: str) -> tuple:
    if sql_type.endswith("[]"):
        col = f"{col}[1]"
    elif sql_type == "VARCHAR":
        col = f"length({col})"
    elif sql_type.startswith("TIMESTAMP"):
        col = f"epoch({col}) / 86400.0"
    return con.execute(
        f"SELECT count(*), min({col}), max({col}), approx_count_distinct({col}), "
        f"avg({col}), stddev_pop({col}) FROM read_parquet('{path}')"
    ).fetchone()


def compare(gen_dir: str, ref_dir: str) -> None:
    """Print each column's statistics in both directories and their
    relative difference (strings are compared by length, timestamps in
    days, list columns by their first element)."""
    import duckdb

    con = duckdb.connect()
    worst = 0.0
    print(f"{'table.column':32} {'stat':8} {'generated':>14} {'reference':>14} {'rel diff':>9}")
    for name in sorted(n for n in os.listdir(ref_dir) if n.endswith(".parquet")):
        ref, gen = os.path.join(ref_dir, name), os.path.join(gen_dir, name)
        for col, sql_type, *_ in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{ref}')").fetchall():
            g, r = _column_stats(con, gen, col, sql_type), _column_stats(con, ref, col, sql_type)
            span = max(abs(r[2] - r[1]), 1e-9)  # the reference column's range
            for stat, a, b in zip(("rows", "min", "max", "distinct", "mean", "std"), g, r):
                # locations relative to the range, counts and spreads to themselves
                scale = span if stat in ("min", "max", "mean") else max(abs(b), 1e-9)
                diff = abs(a - b) / scale
                worst = max(worst, diff)
                print(f"{name[:-8] + '.' + col:32} {stat:8} {a:14.6g} {b:14.6g} {diff:9.4f}")
    print(f"largest relative difference: {worst:.4f}")


if __name__ == "__main__":
    import argparse
    import tempfile

    ap = argparse.ArgumentParser(description="compare generated tables with a reference copy")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--compare", required=True, metavar="REF_DIR")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        compare(ensure(tmp, args.sf), args.compare)

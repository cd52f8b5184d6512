"""Benchmark inputs: fixed base tables and a seeded relabeling of every term.

The base tables are a deterministic TPC-H-shaped star schema (the columns
``sources.triples.TRIPLE_SPEC`` melts) and, for the hub workload, the dense
``orders`` key range ``sources.skew.zipf_triples`` derives its fixture
from.  They never depend on the workload seed, so each workload has one
expected CIND set.  The seed drives only the relabeling: a permutation of
the letters and digits applied to every subject, predicate and object.
A character permutation is a bijection on strings, so the CIND set under
seed ``s`` is exactly the expected set relabeled, while every hash,
hot-line order and partition placement in the engine moves.
"""

from __future__ import annotations

import os
import random
import string

import numpy as np

BASE_SEED = 42  # fixes the base tables; the workload seed never reaches them
ALPHABET = string.digits + string.ascii_letters


def relabel_alphabets(seed: int) -> tuple[str, str]:
    """``(ALPHABET, permuted)``: the seed's relabeling as translate
    alphabets.  Swap the pair to undo it."""
    perm = list(ALPHABET)
    random.Random(seed).shuffle(perm)
    return ALPHABET, "".join(perm)


def relabel(term: str, seed: int) -> str:
    src, dst = relabel_alphabets(seed)
    return term.translate(str.maketrans(src, dst))


def unlabel(term: str, seed: int) -> str:
    src, dst = relabel_alphabets(seed)
    return term.translate(str.maketrans(dst, src))


def _write(out_dir: str, name: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, sf: float) -> None:
    """The star-schema tables ``triple_view`` melts, at scale ``sf``
    (TPC-H row counts: 150k customers, 10k suppliers, 200k parts and 1.5M
    orders per unit, 1-7 line items per order)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))

    def pick(values: list[str], n: int) -> list[str]:
        return [values[i] for i in rng.integers(0, len(values), n)]

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
    })


def write_orders_keys(out_dir: str, n_orders: int) -> None:
    """The dense ``o_orderkey`` range ``zipf_triples`` derives its hub
    fixture from (the only column it reads)."""
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "orders", {"o_orderkey": np.arange(n_orders, dtype=np.int64)})


def write_relabeled(triples, seed: int, out_dir: str, n_files: int) -> None:
    """Relabel every term of ``triples`` by the seed's permutation and
    write the result as ``n_files`` parquet files."""
    from pyspark.sql import functions as F

    src, dst = relabel_alphabets(seed)
    (
        triples.select(*[F.translate(c, src, dst).alias(c) for c in ("subj", "pred", "obj")])
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )

#!/usr/bin/env python
"""Measure the CIND engine's hot-mask decomposition under real RDF
skew (round-7 verdict task 2 — "the one 100x-scale claim the engine
has never had to prove").

Three modes over scripts/zipf_fixture.py fixtures:

* ``--parity`` (default): small Zipf fixture with celebrity deep
  captures; runs Spark ``discover_cinds`` AND the identical DuckDB
  oracle (``oracle.cind_sql(triples_sql=...)``) on the same parquet
  and compares the full result multiset strictly — the oracle gate the
  registered queries get, on the skewed shape, hot-mask + deep part-2
  path engaged at the REAL HOT_LINE_K/MAX_HOT_MASK thresholds.
* ``--depth``: 3.4M-triple fixture (sf0.1-scale) whose top hub line
  holds tens of thousands of frequent captures (sum of hot-line
  pair-products ~1e10 — a plain equi-join would put that on single
  tasks).  Reports the hot census (lines, mask words, overflow), times
  the full minimal-CIND discovery, times the equal-row-count benign
  uniform twin, and cross-checks all-at-once vs the staged engine
  (strategy agreement = the repo's standard non-oracle depth check).
* ``--ablate``: mid-size fixture timed twice — masks on vs masks
  forced off (HOT_LINE_K patched high, so every line flows through the
  plain colocated pair join) — measuring what the decomposition buys.

Every number printed by this script is recorded in README.md §"CIND
under Zipfian skew"."""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from zipf_fixture import ABLATE, DEPTH, OVERFLOW, PARITY, generate  # noqa: E402

CIND_COLS = [
    "dep_code",
    "dep_v1",
    "dep_v2",
    "ref_code",
    "ref_v1",
    "ref_v2",
    "support",
]


def _session():
    from rdfind_spark.session import spark_session

    return spark_session("zipf-cind-probe", driver_memory="16g")


def hot_census(triples, min_support: int = 10) -> dict:
    """The engine's own hot-line census, run standalone: how many join
    lines exceed HOT_LINE_K frequent captures, how many 64-bit mask
    words they need, how many spill past MAX_HOT_MASK into the
    overflow (block-split) path, and the widths of the widest lines."""
    from pyspark.sql import functions as F

    from rdfind_spark.operators import cind as cind_mod
    from rdfind_spark.operators.cind import build_capture_tables

    cand, dcap_h, freq_h, frequent, capf = build_capture_tables(
        triples, min_support
    )
    hot_lines = (
        capf.groupBy("jv1", "jv2")
        .agg(F.count("*").alias("line_k"))
        .filter(F.col("line_k") > cind_mod.HOT_LINE_K)
        .orderBy(F.col("line_k").desc())
    )
    rows = hot_lines.collect()
    ws = [r.line_k for r in rows]
    n_hot = len(ws)
    # deep captures = frequent captures sitting in >= min_support
    # distinct hot lines — the part-2 class of the decomposition
    n_deep = (
        capf.join(
            F.broadcast(hot_lines.select("jv1", "jv2")), on=["jv1", "jv2"]
        )
        .groupBy("h1", "h2")
        .agg(F.count("*").alias("n_lines"))
        .filter(F.col("n_lines") >= min_support)
        .count()
    )
    n_freq = frequent.count()
    for df in (dcap_h, capf, freq_h, frequent):
        df.unpersist()
    return {
        "n_frequent_captures": n_freq,
        "n_hot_lines": n_hot,
        "n_deep_captures": n_deep,
        "mask_words_per_capture": (min(n_hot, cind_mod.MAX_HOT_MASK) + 63) // 64,
        "n_overflow_lines": max(0, n_hot - cind_mod.MAX_HOT_MASK),
        "hot_capture_rows": sum(ws),
        "hot_pair_product": sum(w * (w - 1) // 2 for w in ws),
        "top_line_widths": ws[:5],
    }


def _timed_discover(triples, minimal: bool = True):
    from rdfind_spark.operators.cind import discover_cinds

    t0 = time.time()
    out = discover_cinds(triples, 10, minimal=minimal)
    rows = out.count()
    return time.time() - t0, rows, out


def parity(tmp: str) -> int:
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from check_oracle import normalize

    from rdfind_spark import oracle

    path = f"{tmp}/parity.parquet"
    n = generate(path, **PARITY)
    print(f"# parity fixture: {n} triples", flush=True)
    spark = _session()
    triples = spark.read.parquet(path)
    census = hot_census(triples)
    print(f"# census: {census}", flush=True)
    assert census["n_hot_lines"] >= 10 and census["n_deep_captures"] > 0, (
        "parity fixture must engage the mask path AND the deep part-2 "
        f"path (>= min_overlap hot lines, > 0 deep captures), got {census}"
    )
    dt, rows, out = _timed_discover(triples)
    print(f"# spark discover_cinds(minimal): {rows} rows in {dt:.1f}s", flush=True)
    got = normalize(
        [[r[c] for c in CIND_COLS] for r in out.collect()], CIND_COLS, strict=True
    )

    con = duckdb.connect()
    sql = oracle.cind_sql(
        10, minimal=True, triples_sql=f"SELECT subj, pred, obj FROM read_parquet('{path}')"
    )
    t0 = time.time()
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    ref_rows = res.fetchall()
    print(f"# duckdb oracle: {len(ref_rows)} rows in {time.time()-t0:.1f}s", flush=True)
    ref = normalize(ref_rows, cols, strict=True)
    if got != ref:
        only_spark = set(got) - set(ref)
        only_duck = set(ref) - set(got)
        print(f"MISMATCH: spark-only={list(only_spark)[:5]} duck-only={list(only_duck)[:5]}")
        return 1
    print(f"# PARITY OK: {len(got)} CINDs identical (strict) under skew", flush=True)
    return 0


def depth(tmp: str) -> int:
    from rdfind_spark.operators.staged import discover_cinds_staged

    spark = _session()
    results = {}
    for label, uniform in (("zipf", False), ("uniform", True)):
        path = f"{tmp}/depth_{label}.parquet"
        n = generate(path, uniform=uniform, **DEPTH)
        triples = spark.read.parquet(path)
        census = hot_census(triples)
        print(f"# {label}: {n} triples, census: {census}", flush=True)
        dt, rows, _ = _timed_discover(triples)
        results[label] = (dt, rows, census)
        print(f"# {label}: discover_cinds(minimal) {rows} rows in {dt:.1f}s", flush=True)
        spark.catalog.clearCache()

    path = f"{tmp}/depth_zipf.parquet"
    triples = spark.read.parquet(path)
    t0 = time.time()
    staged = discover_cinds_staged(triples, 10)
    srows = {tuple(r[c] for c in CIND_COLS) for r in staged.collect()}
    print(f"# staged engine: {len(srows)} rows in {time.time()-t0:.1f}s", flush=True)
    _, _, aao = _timed_discover(triples)
    arows = {tuple(r[c] for c in CIND_COLS) for r in aao.collect()}
    if srows != arows:
        print(f"STRATEGY MISMATCH: aao={len(arows)} staged={len(srows)}")
        return 1
    print("# strategy agreement OK (all-at-once == staged) under depth skew", flush=True)
    zd, zr, zc = results["zipf"]
    ud, ur, _ = results["uniform"]
    print(
        f"# SUMMARY depth: zipf {zd:.1f}s/{zr} rows vs uniform {ud:.1f}s/{ur} rows "
        f"(ratio {zd/ud:.2f}x); hot pair-product avoided: {zc['hot_pair_product']:,}",
        flush=True,
    )
    return 0


def ablate(tmp: str) -> int:
    from rdfind_spark.operators import cind as cind_mod

    path = f"{tmp}/ablate.parquet"
    n = generate(path, **ABLATE)
    spark = _session()
    triples = spark.read.parquet(path)
    census = hot_census(triples)
    print(f"# ablate fixture: {n} triples, census: {census}", flush=True)
    dt_on, rows_on, _ = _timed_discover(triples)
    print(f"# masks ON : {rows_on} rows in {dt_on:.1f}s", flush=True)
    spark.catalog.clearCache()
    saved = cind_mod.HOT_LINE_K
    cind_mod.HOT_LINE_K = 1 << 60  # census finds nothing hot
    try:
        dt_off, rows_off, _ = _timed_discover(triples)
    finally:
        cind_mod.HOT_LINE_K = saved
    print(f"# masks OFF: {rows_off} rows in {dt_off:.1f}s", flush=True)
    if rows_on != rows_off:
        print("MISMATCH between masked and unmasked result counts")
        return 1
    print(
        f"# SUMMARY ablate: decomposition {dt_on:.1f}s vs plain join "
        f"{dt_off:.1f}s ({dt_off/dt_on:.1f}x)",
        flush=True,
    )
    return 0


def overflow(tmp: str) -> int:
    """Trip the mask-cap overflow path at its REAL threshold: ~5,200
    hot lines > MAX_HOT_MASK=4096, so the 4,096 hottest get bitmasks
    and the remainder stays cold, block-split by the pair enumerator.
    Equivalence check: the same discovery with MAX_HOT_MASK raised past
    the line count (all lines masked, overflow branch dormant) must
    produce the identical overlap result — two genuinely different
    code paths over ~10^9 hot pair-products agreeing row-for-row."""
    from pyspark.sql import functions as F

    from rdfind_spark.operators import cind as cind_mod

    path = f"{tmp}/overflow.parquet"
    n = generate(path, **OVERFLOW)
    spark = _session()
    triples = spark.read.parquet(path)
    census = hot_census(triples)
    print(f"# overflow fixture: {n} triples, census: {census}", flush=True)
    assert census["n_overflow_lines"] > 0, (
        f"fixture must exceed MAX_HOT_MASK={cind_mod.MAX_HOT_MASK} hot "
        f"lines, got {census['n_hot_lines']}"
    )
    # guard against the degenerate-deep regime (see the OVERFLOW
    # params comment): a wide deep class makes part-2 enumerate the
    # whole hot pair-product — tens of GB of shuffle, not the overflow
    # branch this probe exists to measure
    assert census["n_deep_captures"] < 1000, census
    dt_ov, rows_ov, out_ov = _timed_discover(triples, minimal=False)
    h_ov = out_ov.select(
        F.expr(f"bit_xor(xxhash64({', '.join(CIND_COLS)}))").alias("h")
    ).collect()[0].h
    print(
        f"# capped (overflow path LIVE): {rows_ov} rows in {dt_ov:.1f}s",
        flush=True,
    )
    spark.catalog.clearCache()
    saved = cind_mod.MAX_HOT_MASK
    cind_mod.MAX_HOT_MASK = 1 << 20  # everything masked, overflow dormant
    try:
        dt_all, rows_all, out_all = _timed_discover(triples, minimal=False)
        h_all = out_all.select(
            F.expr(f"bit_xor(xxhash64({', '.join(CIND_COLS)}))").alias("h")
        ).collect()[0].h
    finally:
        cind_mod.MAX_HOT_MASK = saved
    print(
        f"# uncapped (all {census['n_hot_lines']} lines masked): "
        f"{rows_all} rows in {dt_all:.1f}s",
        flush=True,
    )
    if (rows_ov, h_ov) != (rows_all, h_all):
        print(
            f"MISMATCH: capped ({rows_ov}, {h_ov}) != "
            f"uncapped ({rows_all}, {h_all})"
        )
        return 1
    print(
        f"# SUMMARY overflow: {census['n_overflow_lines']} lines past the "
        f"mask cap handled by the block split; capped {dt_ov:.1f}s vs "
        f"all-masked {dt_all:.1f}s; results identical "
        f"(rows + value hash)",
        flush=True,
    )
    return 0


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "--parity"
    with tempfile.TemporaryDirectory(prefix="zipf_cind_") as tmp:
        if mode == "--parity":
            return parity(tmp)
        if mode == "--depth":
            return depth(tmp)
        if mode == "--ablate":
            return ablate(tmp)
        if mode == "--overflow":
            return overflow(tmp)
        print(
            f"unknown mode {mode}; use --parity | --depth | --ablate "
            "| --overflow"
        )
        return 2


if __name__ == "__main__":
    raise SystemExit(main())

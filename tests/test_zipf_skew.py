"""Strict oracle parity for the CIND engine under Zipfian (DBpedia-
shaped) skew — the round-7 verdict's top item: the hot-mask
decomposition (operators/cind.py) tripped at its REAL thresholds
(HOT_LINE_K=512, deep part-2 class populated) and checked bit-exactly
against the same DuckDB oracle the registered queries face.

The fixture (scripts/zipf_fixture.py PARITY params) measures at
generation time: 16 hot join lines (top width 3,565 frequent
captures), 50 deep captures (captures in >= min_support distinct hot
lines), 18.9M hot pair-product that the plain equi-join would
materialize.  Larger regimes (3.4M triples, 15.0B avoided product)
are scripted in
scripts/zipf_cind_probe.py --depth and recorded in README."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"),
)

CIND_COLS = [
    "dep_code",
    "dep_v1",
    "dep_v2",
    "ref_code",
    "ref_v1",
    "ref_v2",
    "support",
]


@pytest.fixture(scope="module")
def zipf_path(tmp_path_factory):
    from zipf_fixture import PARITY, generate

    path = str(tmp_path_factory.mktemp("zipf") / "triples.parquet")
    n = generate(path, **PARITY)
    assert n == 108_480
    return path


def test_skew_fixture_trips_real_hot_thresholds(spark, zipf_path):
    """The fixture must engage the mask path (>= min_overlap hot lines,
    so the deep check runs) AND populate the deep class — otherwise the
    parity test below silently degrades to the cold path only."""
    from rdfind_spark.operators import cind as cind_mod
    from rdfind_spark.operators.cind import build_capture_tables

    triples = spark.read.parquet(zipf_path)
    _, dcap_h, freq_h, frequent, capf = build_capture_tables(triples, 10)
    try:
        hot = (
            capf.groupBy("jv1", "jv2")
            .agg(F.count("*").alias("line_k"))
            .filter(F.col("line_k") > cind_mod.HOT_LINE_K)
        )
        widths = sorted((r.line_k for r in hot.collect()), reverse=True)
        n_deep = (
            capf.join(F.broadcast(hot.select("jv1", "jv2")), on=["jv1", "jv2"])
            .groupBy("h1", "h2")
            .agg(F.count("*").alias("n_lines"))
            .filter(F.col("n_lines") >= 10)
            .count()
        )
    finally:
        for df in (dcap_h, capf, freq_h, frequent):
            df.unpersist()
    assert len(widths) >= 10, widths
    assert widths[0] > 3000, widths[:5]
    assert n_deep > 0


def test_cind_minimal_matches_oracle_under_skew(spark, zipf_path):
    from check_oracle import normalize

    from rdfind_spark import oracle
    from rdfind_spark.operators.cind import discover_cinds

    triples = spark.read.parquet(zipf_path)
    out = discover_cinds(triples, 10, minimal=True)
    got = normalize(
        [[r[c] for c in CIND_COLS] for r in out.collect()],
        CIND_COLS,
        strict=True,
    )

    con = duckdb.connect()
    res = con.execute(
        oracle.cind_sql(
            10,
            minimal=True,
            triples_sql=(
                f"SELECT subj, pred, obj FROM read_parquet('{zipf_path}')"
            ),
        )
    )
    cols = [d[0] for d in res.description]
    ref = normalize(res.fetchall(), cols, strict=True)
    assert len(got) > 5000
    assert got == ref


def test_zipf_triples_derivation_parity(spark, sf_dir):
    """sources/skew.py renders ONE block spec to two dialects; the
    derived triple multisets must be byte-identical, or the registered
    cind_zipf_skew oracle is checking a different fixture than the
    Spark engine runs on."""
    from rdfind_spark.sources.skew import zipf_triples, zipf_triples_sql

    srows = sorted(tuple(r) for r in zipf_triples(spark, sf_dir).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS "
        f"SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    drows = sorted(tuple(r) for r in con.execute(zipf_triples_sql()).fetchall())
    assert len(srows) > 30_000
    assert srows == drows


def test_cind_zipf_skew_query_matches_oracle_and_mask_path_agrees(
    spark, sf_dir, monkeypatch
):
    """The round-11 registered query end-to-end at sf0.001, twice:
    once on the default thresholds (widths ~60-300, cold path) and once
    with HOT_LINE_K forced to 50 so all 43 hub/class lines go hot and
    the celebrity captures (12+ hot-line memberships >= min_overlap=10)
    populate the deep part-2 class — both runs must equal the DuckDB
    oracle, which is path-independent.  At sf0.01 the driver's board
    check repeats this with the REAL thresholds engaged (43 hot lines,
    widths 748-1250 > HOT_LINE_K=512, measured)."""
    from check_oracle import normalize

    from rdfind_spark import oracle
    from rdfind_spark.operators import cind as cind_mod
    from rdfind_spark.operators.cind import discover_cinds
    from rdfind_spark.sources.skew import zipf_triples, zipf_triples_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS "
        f"SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    res = con.execute(
        oracle.cind_sql(10, minimal=True, triples_sql=zipf_triples_sql())
    )
    cols = [d[0] for d in res.description]
    ref = normalize(res.fetchall(), cols, strict=True)
    assert len(ref) > 5000

    got = normalize(
        [
            [r[c] for c in CIND_COLS]
            for r in discover_cinds(
                zipf_triples(spark, sf_dir), 10, minimal=True
            ).collect()
        ],
        CIND_COLS,
        strict=True,
    )
    assert got == ref

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 50)
    hot = normalize(
        [
            [r[c] for c in CIND_COLS]
            for r in discover_cinds(
                zipf_triples(spark, sf_dir), 10, minimal=True
            ).collect()
        ],
        CIND_COLS,
        strict=True,
    )
    assert hot == ref


def test_overlap_table_unique_per_unordered_pair(spark, sf_dir, monkeypatch):
    """Regression (r11): the overlap table once kept 1,818 duplicate
    pairs on the sf0.01 zipf fixture, because its part1 (cold pairs)
    and part2 (the deep hot-only class) came from enumerators with
    opposite pair orientations.  Both parts now come from the one
    sorted-array enumerator, and ``_cold_pair_counts_with_hot_masks``
    merges them with one max per pair.  Pin: with HOT_LINE_K forced
    low enough that the deep part-2 class populates (the same config
    the parity test above proves engages it), every unordered pair
    appears exactly once, in hash-lex orientation."""
    from rdfind_spark.operators import cind as cind_mod
    from rdfind_spark.operators.cind import build_capture_tables
    from rdfind_spark.sources.skew import zipf_triples

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 50)
    _, dcap_h, freq_h, frequent, capf = build_capture_tables(
        zipf_triples(spark, sf_dir), 10
    )
    try:
        hot_values = [
            (r.jv1, r.jv2)
            for r in capf.groupBy("jv1", "jv2")
            .agg(F.count("*").alias("line_k"))
            .filter(F.col("line_k") > cind_mod.HOT_LINE_K)
            .select("jv1", "jv2")
            .collect()
        ]
        assert len(hot_values) >= 10  # deep-class config, not the cold path
        ov = cind_mod._cold_pair_counts_with_hot_masks(capf, hot_values, 10)
        sa = F.struct(
            F.col("a_h1").alias("h1"), F.col("a_h2").alias("h2")
        )
        sb = F.struct(
            F.col("b_h1").alias("h1"), F.col("b_h2").alias("h2")
        )
        lo = F.least(sa, sb)
        hi = F.greatest(sa, sb)
        dups = (
            ov.groupBy(lo.alias("lo"), hi.alias("hi"))
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dups == 0
        assert (
            ov.filter(
                F.struct("a_h1", "a_h2") >= F.struct("b_h1", "b_h2")
            ).count()
            == 0
        )
    finally:
        for df in (dcap_h, capf, freq_h, frequent):
            df.unpersist()

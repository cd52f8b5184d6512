"""Strategy 1 (SmallToLarge, a facade of the all-at-once engine) and
the G17 association-rule filter."""

from __future__ import annotations

import duckdb

from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.operators.rules import ar_implied_cind_keys, association_rules
from rdfind_spark.operators.staged import discover_cinds_staged
from rdfind_spark.oracle import cind_sql
from rdfind_spark.sources.triples import TABLES, triple_view

from tests.test_cind_engine import TINY, brute_cinds


def _as_set(df):
    return {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in df.collect()
    }


def test_staged_matches_brute_force_tiny(spark):
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    got = _as_set(discover_cinds_staged(df, min_support=2))
    assert got == brute_cinds(TINY, min_support=2, minimal=True)


def test_ar_implied_keys():
    """Rule p=a ⇒ o=b implies s[p=a] ⊆ s[o=b] (codes 10 → 12)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    rules = spark.createDataFrame(
        [(2, 4, "a", "b", 5, 1.0)],
        "ante_code int, cons_code int, antecedent string, consequent string,"
        " support long, confidence double",
    )
    rows = ar_implied_cind_keys(rules).collect()
    assert [(r.dep_code, r.dep_v1, r.ref_code, r.ref_v1) for r in rows] == [
        (10, "a", 12, "b")
    ]


def test_ar_filter_drops_rule_implied_cinds(spark):
    """Every p1 triple has obj x (rule p=p1 ⇒ o=x at confidence 1.0), so
    the AR-implied 1/1 CIND s[p=p1] ⊆ s[o=x] must be gone with
    ar_filter=True and present (or refined) without."""
    triples = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i % 2}") for i in range(5)
    ]
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    rules = association_rules(df, min_support=2, min_confidence=1.0).collect()
    assert any(
        (r.ante_code, r.antecedent, r.cons_code, r.consequent) == (2, "p1", 4, "x")
        for r in rules
    )
    plain = _as_set(discover_cinds(df, min_support=2, minimal=False))
    filtered = _as_set(
        discover_cinds(df, min_support=2, minimal=False, ar_filter=True)
    )
    implied = (10, "p1", "", 12, "x", "", 5)
    assert implied in plain
    assert implied not in filtered
    assert filtered < plain


def test_association_rules_leaves_no_cached_table(spark):
    """association_rules persists its corpus-sized condition census for
    its seven branches; it must release it and return the result-sized
    rule table materialized, so Spark's CacheManager ends empty."""
    from rdfind_spark.session import drop_cached

    drop_cached(spark)
    triples = [(f"a{i}", "p1", "x") for i in range(5)]
    rules = association_rules(spark.createDataFrame(triples, ["subj", "pred", "obj"]), 2)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert rules.count() > 0


def _duckdb_with_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_ar_sql_matches_spark_on_sf0001(spark, sf_dir):
    got = _as_set(
        discover_cinds(
            triple_view(spark, sf_dir), min_support=10, minimal=True, ar_filter=True
        )
    )
    con = _duckdb_with_views(sf_dir)
    expected = {
        tuple(r) for r in con.execute(cind_sql(10, True, ar=True)).fetchall()
    }
    assert got == expected
    assert got


def test_staged_matches_oracle_on_sf0001(spark, sf_dir):
    from rdfind_spark.plans import traversal

    got = _as_set(traversal(triple_view(spark, sf_dir), strategy=1, min_support=10))
    con = _duckdb_with_views(sf_dir)
    expected = {tuple(r) for r in con.execute(cind_sql(10, True)).fetchall()}
    assert got == expected


def test_staged_ar_filter_reference_order(spark):
    """Strategy 1 applies the G17 filter where strategy 0 does, after
    extraction and before minimality — the order the DuckDB oracle
    ``cind_sql(ar=True)`` checks — so both return the same set, without
    the AR-implied 1/1 CIND."""
    from rdfind_spark.plans import traversal

    triples = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i % 2}") for i in range(5)
    ]
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    small_to_large = _as_set(traversal(df, strategy=1, min_support=2, ar_filter=True))
    all_at_once = _as_set(traversal(df, strategy=0, min_support=2, ar_filter=True))
    implied = (10, "p1", "", 12, "x", "", 5)
    assert small_to_large == all_at_once
    assert small_to_large and implied not in small_to_large


def test_ar_filter_discovery_releases_rule_table(spark):
    """The materialized association-rule table is dead once the CIND
    set is checkpointed: an AR-filtered discovery leaves one persisted
    RDD, its result, as a plain one does."""
    from rdfind_spark.session import drop_cached

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    try:
        for ar_filter in (False, True):
            drop_cached(spark)
            assert discover_cinds(df, 2, ar_filter=ar_filter).count() > 0
            assert persisted() == 1, f"ar_filter={ar_filter}"
    finally:
        drop_cached(spark)

"""Cross-strategy agreement (staged SmallToLarge vs relational
AllAtOnce) and the G17 association-rule filter."""

from __future__ import annotations

import random

import duckdb
import pytest

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


def test_staged_matches_all_at_once_random(spark):
    rng = random.Random(11)
    triples = list(
        {
            (
                f"s{rng.randrange(9)}",
                f"p{rng.randrange(4)}",
                f"o{rng.randrange(5)}",
            )
            for _ in range(350)
        }
    )
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    staged = _as_set(discover_cinds_staged(df, min_support=3))
    allatonce = _as_set(discover_cinds(df, min_support=3, minimal=True))
    assert staged == allatonce
    assert staged, "fixture must produce CINDs"


@pytest.mark.parametrize("max_hot_mask", [4, 4096])
def test_staged_hot_line_overflow_cap_matches_brute_force(
    spark, monkeypatch, max_hot_mask
):
    """Hot lines in the STAGED engine, with more of them than
    MAX_HOT_MASK (4: the census collect and the mask width stay bounded
    by the cap, and the overflow lines route through cold_line_join's
    salted join in _verify_candidates) and with all of them masked
    (4096: the verify mask path without overflow) — the result stays
    exact either way (mirror of the all-at-once overflow test in
    test_cind_engine)."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    monkeypatch.setattr(cind_mod, "N_SALT", 4)
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", max_hot_mask)
    rng = random.Random(11)
    triples = list(
        {
            (
                f"s{rng.randrange(8)}",
                f"p{rng.randrange(3)}",
                f"o{rng.randrange(5)}",
            )
            for _ in range(300)
        }
    )
    # sanity: the overflow regime is actually hit (same fixture as the
    # all-at-once test, which asserts n_hot > 4)
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    got = _as_set(discover_cinds_staged(df, min_support=3))
    assert got == brute_cinds(triples, min_support=3, minimal=True)
    assert got, "fixture must produce CINDs"


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
    got = _as_set(discover_cinds_staged(triple_view(spark, sf_dir), min_support=10))
    con = _duckdb_with_views(sf_dir)
    expected = {tuple(r) for r in con.execute(cind_sql(10, True)).fetchall()}
    assert got == expected


def test_staged_ar_filter_reference_order(spark):
    """The staged strategy applies the G17 filter to the 1/1 class
    BEFORE candidate generation (reference stage order,
    ``SmallToLargeTraversalStrategy.scala:80-87``): AR-implied 1/1s are
    gone AND they no longer seed 1/2 candidates — so the staged AR
    output is a subset of the all-at-once ar_filter output (which
    filters after extraction)."""
    triples = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i % 2}") for i in range(5)
    ]
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    staged = _as_set(discover_cinds_staged(df, min_support=2, ar_filter=True))
    implied = (10, "p1", "", 12, "x", "", 5)
    assert implied not in staged
    allatonce = _as_set(
        discover_cinds(df, min_support=2, minimal=True, ar_filter=True)
    )
    assert staged <= allatonce


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_subj=st.integers(3, 12),
    n_pred=st.integers(2, 5),
    n_obj=st.integers(2, 8),
)
def test_staged_matches_all_at_once_hypothesis(spark, seed, n_subj, n_pred, n_obj):
    """Property: the staged lattice (with its round-4 support prunes
    and hub-safety gate) agrees with the all-at-once engine on random
    corpora across densities — skew of the value distribution is what
    the prunes and the gate key on, so vary all three cardinalities."""
    rng = random.Random(seed)
    triples = list(
        {
            (
                f"s{rng.randrange(n_subj)}",
                f"p{rng.randrange(n_pred)}",
                f"o{rng.randrange(n_obj)}",
            )
            for _ in range(200)
        }
    )
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    staged = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in discover_cinds_staged(df, min_support=2).collect()
    }
    allatonce = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in discover_cinds(df, min_support=2, minimal=True).collect()
    }
    assert staged == allatonce

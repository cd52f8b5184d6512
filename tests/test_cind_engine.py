"""CIND engine correctness against an independent brute-force oracle
(pure Python set algebra, hand-spelled capture emission) and against the
generated DuckDB oracle SQL on the sf0.001 star schema."""

from __future__ import annotations

import itertools
import random

import duckdb
import pytest

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.oracle import cind_sql
from rdfind_spark.sources.triples import TABLES, triple_view

# ---------------------------------------------------------------- oracle


def brute_capture_sets(triples):
    """capture -> set of projected (join) values; emission spelled out
    by hand, independent of rdfind_spark.operators.captures."""
    capsets: dict[tuple[int, str, str], set[str]] = {}

    def add(code, v1, v2, jv):
        capsets.setdefault((code, v1, v2), set()).add(jv)

    for s, p, o in triples:
        add(10, p, "", s)
        add(12, o, "", s)
        add(14, p, o, s)
        add(17, s, "", p)
        add(20, o, "", p)
        add(21, s, o, p)
        add(33, s, "", o)
        add(34, p, "", o)
        add(35, s, p, o)
    return capsets


def brute_cinds(triples, min_support, minimal=True):
    capsets = brute_capture_sets(triples)
    out = set()
    for dep, dset in capsets.items():
        if len(dset) < min_support:
            continue
        for ref, rset in capsets.items():
            if dep == ref:
                continue
            if cc.capture_implies(*dep, *ref):
                continue  # trivial
            if dset <= rset:
                out.add((*dep, *ref, len(dset)))
    if minimal:
        def killed(c):
            dep, ref = c[0:3], c[3:6]
            for k in out:
                kdep, kref = k[0:3], k[3:6]
                if k == c:
                    continue
                # broader dependent with same ref
                if kref == ref and any(
                    kdep == (g, (dep[1] if i == 1 else dep[2]), "")
                    for g, i in cc.generalizations(dep[0])
                ):
                    return True
                # narrower referenced with same dep
                if kdep == dep and any(
                    ref == (g, (kref[1] if i == 1 else kref[2]), "")
                    for g, i in cc.generalizations(kref[0])
                ):
                    return True
            return False

        out = {c for c in out if not killed(c)}
    return out


def spark_cinds(spark, triples, min_support, minimal=True):
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    rows = discover_cinds(df, min_support=min_support, minimal=minimal).collect()
    return {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in rows
    }


# --------------------------------------------------------------- fixtures

# tiny-cind (FIXTURES.md §2): strict inclusion, equal sets, overlap-only,
# binary case, below-min-support values.
TINY = (
    # p1 subjects {a1..a4} strictly inside p2 subjects {a1..a6}
    [(f"a{i}", "p1", "x") for i in range(1, 5)]
    + [(f"a{i}", "p2", "y") for i in range(1, 7)]
    # p3/p4 equal subject sets {b1,b2,b3} -> CINDs both ways
    + [(f"b{i}", "p3", "m") for i in range(1, 4)]
    + [(f"b{i}", "p4", "n") for i in range(1, 4)]
    # p5/p6 overlap but no inclusion
    + [("c1", "p5", "u"), ("c2", "p5", "u"), ("c3", "p5", "u")]
    + [("c2", "p6", "v"), ("c3", "p6", "v"), ("c4", "p6", "v")]
    # binary: subjects with (p2, obj=y) = {a1..a6} ⊇ subjects of p1
    # rare predicate below min support
    + [("z1", "rare", "w")]
)


def test_tiny_fixture_minimal(spark):
    expected = brute_cinds(TINY, min_support=2, minimal=True)
    got = spark_cinds(spark, TINY, min_support=2, minimal=True)
    assert got == expected
    assert expected, "fixture must produce at least one CIND"
    # known-true: subjects of p1 ⊆ subjects of p2; since all p2 triples
    # share obj=y the minimal form is the refined ref s[p=p2,o=y]
    # (the plain 10<10 form is correctly killed by "1/1 implied by 1/2")
    assert (10, "p1", "", 14, "p2", "y", 4) in got
    assert (10, "p1", "", 10, "p2", "", 4) not in got
    # equal sets both ways (minimal = refined-ref forms)
    assert (10, "p3", "", 14, "p4", "n", 3) in got
    assert (10, "p4", "", 14, "p3", "m", 3) in got
    # overlap-only pair must NOT be a CIND
    assert not any(c[1] == "p5" and c[4] == "p6" for c in got)


def test_tiny_fixture_nonminimal(spark):
    expected = brute_cinds(TINY, min_support=2, minimal=False)
    got = spark_cinds(spark, TINY, min_support=2, minimal=False)
    assert got == expected
    assert len(expected) >= len(brute_cinds(TINY, 2, True))


@pytest.mark.parametrize("seed,n", [(1, 150), (2, 250), (3, 400)])
def test_random_triples_match_brute_force(spark, seed, n):
    rng = random.Random(seed)
    triples = [
        (
            f"s{rng.randrange(10)}",
            f"p{rng.randrange(4)}",
            f"o{rng.randrange(6)}",
        )
        for _ in range(n)
    ]
    triples = list({t for t in triples})  # engine input need not be distinct,
    # but dedup keeps the brute-force semantics identical
    for minimal in (False, True):
        expected = brute_cinds(triples, min_support=3, minimal=minimal)
        got = spark_cinds(spark, triples, min_support=3, minimal=minimal)
        assert got == expected, f"minimal={minimal}"


def test_salted_pair_join_matches_brute_force(spark, monkeypatch):
    """Force the hot-line salting path (HOT_LINE_K tiny) and check the
    result is identical to the unsalted semantics."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    monkeypatch.setattr(cind_mod, "N_SALT", 4)
    rng = random.Random(7)
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
    for minimal in (False, True):
        expected = brute_cinds(triples, min_support=3, minimal=minimal)
        got = spark_cinds(spark, triples, min_support=3, minimal=minimal)
        assert got == expected, f"minimal={minimal}"


def test_hot_line_mask_path_matches_brute_force(spark, monkeypatch):
    """One hub value shared by many frequent captures + min_support >
    #hot-lines exercises the cold-pairs + hot-bitmask path."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 50)
    # 40 subjects, each with the hub object + 12 private objects: the
    # hub join line carries 81 frequent captures (hot); all other lines
    # are small.  min_support=10 > 1 hot line -> mask path.
    triples = []
    for i in range(40):
        triples.append((f"x{i}", "p", "hub"))
        triples += [(f"x{i}", "p", f"o{i}_{j}") for j in range(12)]
    expected = brute_cinds(triples, min_support=10, minimal=False)
    got = spark_cinds(spark, triples, min_support=10, minimal=False)
    assert got == expected
    assert expected, "fixture must produce CINDs"
    # sanity: the hub line really was hot (81 > 50) and unique
    from rdfind_spark.operators.captures import capture_candidates
    from rdfind_spark.operators.cind import (
        capture_supports,
        distinct_captures,
        frequent_captures,
        pruned_captures,
    )

    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    dcap = distinct_captures(capture_candidates(df))
    freq = frequent_captures(capture_supports(dcap), 10)
    capf = pruned_captures(dcap, freq)
    import pyspark.sql.functions as F

    hot = (
        capf.groupBy("jv1", "jv2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 50)
        .collect()
    )
    hub_row = (
        df.select(
            F.xxhash64(F.lit("hub")).alias("jv1"), F.hash(F.lit("hub")).alias("jv2")
        )
        .first()
    )
    assert len(hot) == 1
    assert (hot[0].jv1, hot[0].jv2) == (hub_row.jv1, hub_row.jv2)


def test_hot_line_overflow_cap_matches_brute_force(spark, monkeypatch):
    """More hot lines than MAX_HOT_MASK: only the hottest get bitmask
    columns, the overflow routes through the salted join — the result
    must stay exact and the driver collect/mask width bounded by the
    cap.  (At production thresholds this is the >4k-hub regime.)"""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    monkeypatch.setattr(cind_mod, "N_SALT", 4)
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", 4)
    rng = random.Random(11)
    # small value domains -> many join lines wider than HOT_LINE_K=2,
    # far more than the capped 4 mask slots
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
    # sanity: the overflow regime is actually hit
    from rdfind_spark.operators.captures import capture_candidates
    from rdfind_spark.operators.cind import (
        capture_supports,
        distinct_captures,
        frequent_captures,
        pruned_captures,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    dcap = distinct_captures(capture_candidates(df))
    freq = frequent_captures(capture_supports(dcap), 3)
    n_hot = (
        pruned_captures(dcap, freq)
        .groupBy("jv1", "jv2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 2)
        .count()
    )
    assert n_hot > 4, f"fixture must exceed the mask cap (got {n_hot} hot lines)"
    # the census itself: the cap's worth of lines, hottest first, the
    # same list on a rerun, the rest as overflow — and none below the cap
    capf = pruned_captures(dcap, freq)
    width = {
        (r.jv1, r.jv2): r.k
        for r in capf.groupBy("jv1", "jv2").agg(F.count("*").alias("k")).collect()
    }
    hot, overflow = cind_mod.hot_line_census(capf)
    assert len(hot) == 4
    widths = [width[v] for v in hot]
    assert widths == sorted(widths, reverse=True)
    assert min(widths) >= max(k for v, k in width.items() if v not in hot)
    assert cind_mod.hot_line_census(capf)[0] == hot
    assert overflow.count() == n_hot - 4
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", n_hot + 1)
    all_hot, no_overflow = cind_mod.hot_line_census(capf)
    assert len(all_hot) == n_hot and no_overflow is None
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", 4)
    for minimal in (False, True):
        expected = brute_cinds(triples, min_support=3, minimal=minimal)
        got = spark_cinds(spark, triples, min_support=3, minimal=minimal)
        assert got == expected, f"minimal={minimal}"


def test_duplicate_triples_do_not_change_result(spark):
    dup = TINY + TINY[:7]
    assert spark_cinds(spark, dup, 2) == brute_cinds(TINY, 2)


# ----------------------------------------------- sf0.001 vs DuckDB oracle


def _duckdb_with_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_cind_sql_matches_spark_on_sf0001(spark, sf_dir):
    got = {
        tuple(r)
        for r in discover_cinds(
            triple_view(spark, sf_dir), min_support=10, minimal=True
        ).collect()
    }
    con = _duckdb_with_views(sf_dir)
    expected = {tuple(r) for r in con.execute(cind_sql(10, True)).fetchall()}
    assert got == expected
    assert len(got) > 0
    # FK inclusion by construction: every byCustomer object is an inNation subject
    assert any(
        c[0] == 33 and c[1] == "byCustomer" and c[3] == 10 and c[4] == "inNation"
        for c in got
    ) or any(c[1] == "byCustomer" for c in got)


def test_tricky_values_match_brute_force(spark):
    """Empty-string values (which collide with the unary v2='' sentinel
    space), unicode, and values shared across subject/pred/object roles
    must all flow through the engine unchanged."""
    base = [
        ("", "p", "x"),
        ("", "p", "ü"),
        ("a", "", ""),
        ("b", "", ""),
        ("x", "p", "a"),
        ("x", "q", "a"),
        ("ü", "p", "x"),
        ("ü", "q", "x"),
        ("p", "x", "q"),  # field-role collisions: p/x/q appear everywhere
        ("q", "x", "p"),
    ]
    triples = base + [(f"{s}{i}", p, o) for i in range(2) for s, p, o in base]
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    got = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in discover_cinds(df, min_support=2, minimal=True).collect()
    }
    assert got == brute_cinds(triples, min_support=2, minimal=True)
    assert got, "fixture must produce CINDs"


def test_hot_only_pairs_exact_with_tiny_hot_threshold(spark, monkeypatch):
    """Force the hot-line machinery into its hardest regime: almost
    every join line 'hot' (HOT_LINE_K=2) and n_hot >= min_support, so
    qualifying pairs exist that co-occur ONLY in hot lines and must come
    from the deep-capture enumeration.  Exactness vs brute force."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    rng = random.Random(7)
    triples = list(
        {
            (
                f"s{rng.randrange(6)}",
                f"p{rng.randrange(3)}",
                f"o{rng.randrange(4)}",
            )
            for _ in range(200)
        }
    )
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    got = {
        tuple(r)
        for r in discover_cinds(df, min_support=2, minimal=True).collect()
    }
    assert got == brute_cinds(triples, min_support=2, minimal=True)
    assert got


# ------------------------------------------- approximate-then-verify


def test_sketch_filter_strategy_matches_brute_force(spark):
    """Strategy 2 (Bloom-sketch prefilter + exact verify) returns the
    exact CIND set on TINY and on a hot-line fixture — the sketch test
    has false positives only (reference strategy 2 re-expressed)."""
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    got = {
        tuple(r)
        for r in discover_cinds(
            df, min_support=2, minimal=True, sketch_filter=True
        ).collect()
    }
    assert got == brute_cinds(TINY, min_support=2, minimal=True)

    triples = []
    for i in range(40):
        triples.append((f"x{i}", "p", "hub"))
        triples += [(f"x{i}", "p", f"o{i}_{j}") for j in range(12)]
    df2 = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    got2 = {
        tuple(r)
        for r in discover_cinds(
            df2, min_support=10, minimal=False, sketch_filter=True
        ).collect()
    }
    assert got2 == brute_cinds(triples, min_support=10, minimal=False)


def test_value_sketch_containment_semantics(spark):
    """bits(a) ⊆ bits(b) whenever values(a) ⊆ values(b)."""
    from rdfind_spark.operators.captures import capture_candidates
    from rdfind_spark.operators.cind import (
        SKETCH_WORDS,
        capture_supports,
        capture_value_sketches,
        distinct_captures,
        frequent_captures,
        pruned_captures,
    )

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    dcap = distinct_captures(capture_candidates(df))
    freq = frequent_captures(capture_supports(dcap), 2)
    capf = pruned_captures(dcap, freq)
    sk = {
        (r.h1, r.h2): tuple(r[f"s{w}"] for w in range(SKETCH_WORDS))
        for r in capture_value_sketches(capf).collect()
    }
    import pyspark.sql.functions as F

    keyed = {
        (r.code, r.v1, r.v2): (r.h1, r.h2)
        for r in freq.select(
            "code", "v1", "v2",
            F.xxhash64("code", "v1", "v2").alias("h1"),
            F.hash("code", "v1", "v2").alias("h2"),
        ).collect()
    }
    sets = brute_capture_sets(TINY)
    checked = 0
    for dep, dset in sets.items():
        for ref, rset in sets.items():
            if dep == ref or dep not in keyed or ref not in keyed:
                continue
            if dset <= rset:
                a, b = sk[keyed[dep]], sk[keyed[ref]]
                assert all((x & ~y) == 0 for x, y in zip(a, b)), (dep, ref)
                checked += 1
    assert checked > 0


# -------------------------------------------- degenerate & property


def test_min_support_above_data_yields_empty(spark):
    """All strategies must return an empty (not failing) result when no
    capture reaches min_support."""
    from rdfind_spark.operators.staged import discover_cinds_staged

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    assert discover_cinds(df, min_support=10_000).count() == 0
    assert (
        discover_cinds(df, min_support=10_000, sketch_filter=True).count() == 0
    )
    assert discover_cinds_staged(df, min_support=10_000).count() == 0


def test_property_random_triples_all_strategies_agree(spark):
    """Property test (SURVEY §5): on random small triple sets over a
    tiny alphabet, every strategy reproduces the brute-force oracle."""
    from hypothesis import given, settings, strategies as st

    from rdfind_spark.operators.staged import discover_cinds_staged

    triple_st = st.lists(
        st.tuples(
            st.sampled_from([f"a{i}" for i in range(6)]),
            st.sampled_from([f"p{i}" for i in range(3)]),
            st.sampled_from([f"o{i}" for i in range(4)]),
        ),
        min_size=8,
        max_size=30,
    )

    @settings(max_examples=4, deadline=None)
    @given(triples=triple_st)
    def check(triples):
        expected = brute_cinds(triples, min_support=2, minimal=True)
        df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
        got0 = {
            tuple(r) for r in discover_cinds(df, min_support=2).collect()
        }
        got1 = {
            tuple(r)
            for r in discover_cinds_staged(df, min_support=2).collect()
        }
        got2 = {
            tuple(r)
            for r in discover_cinds(
                df, min_support=2, sketch_filter=True
            ).collect()
        }
        assert got0 == expected
        assert got1 == expected
        assert got2 == expected

    check()


def test_hash_injectivity_census(spark, monkeypatch):
    """The 96-bit dictionary compression (jv/capture hash pairs) has a
    loud-failure collision census: it passes on real capture data, and
    RDFIND_SPARK_CHECK_HASHES=1 wires it into discover_cinds without
    changing the result."""
    from rdfind_spark.operators.captures import capture_candidates
    from rdfind_spark.operators.cind import assert_hash_injective

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    assert_hash_injective(capture_candidates(df))  # collision-free: no raise
    monkeypatch.setenv("RDFIND_SPARK_CHECK_HASHES", "1")
    got = spark_cinds(spark, TINY, min_support=2, minimal=True)
    assert got == brute_cinds(TINY, min_support=2, minimal=True)

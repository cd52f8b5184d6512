"""CIND engine correctness against an independent brute-force oracle
(pure Python set algebra, hand-spelled capture emission) and against the
generated DuckDB oracle SQL on the sf0.001 star schema."""

from __future__ import annotations

import itertools
import random

import duckdb
import pytest

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.cind import build_capture_tables, discover_cinds
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


def capture_tables(spark, triples, min_support):
    """``(frequent, capf)`` of the engine's own capture prefix over
    ``triples``."""
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    _, _, _, frequent, capf = build_capture_tables(df, min_support)
    return frequent, capf


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


def test_tiny_hot_line_k_matches_brute_force(spark, monkeypatch):
    """With HOT_LINE_K tiny nearly every join line is hot, so the
    hot-line decomposition carries the whole discovery — the result is
    identical to the brute-force semantics."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
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
    import pyspark.sql.functions as F

    _, capf = capture_tables(spark, triples, 10)

    hot = (
        capf.groupBy("jv1", "jv2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 50)
        .collect()
    )
    hub_row = (
        capf.select(
            F.xxhash64(F.lit("hub")).alias("jv1"), F.hash(F.lit("hub")).alias("jv2")
        )
        .first()
    )
    assert len(hot) == 1
    assert (hot[0].jv1, hot[0].jv2) == (hub_row.jv1, hub_row.jv2)


def test_hot_line_overflow_cap_matches_brute_force(spark, monkeypatch):
    """More hot lines than MAX_HOT_MASK: only the hottest get bitmask
    columns, the overflow lines stay cold and are cut into position
    blocks — the result must stay exact and the driver collect/mask
    width bounded by the cap.  (At production thresholds this is the
    >4k-hub regime.)"""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
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
    from pyspark.sql import functions as F

    freq, capf = capture_tables(spark, triples, 3)
    n_hot = (
        capf.groupBy("jv1", "jv2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 2)
        .count()
    )
    assert n_hot > 4, f"fixture must exceed the mask cap (got {n_hot} hot lines)"
    # the census itself: the cap's worth of lines, hottest first, the
    # same list on a rerun, the rest as overflow — and none below the cap
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
    # the overlap table itself: 4 masked lines >= min_overlap 3, so the
    # deep hot-only class merges with the cold pairs — one row per
    # unordered pair, with the brute-force overlap
    ov = cind_mod.capture_overlaps(capf, freq, min_overlap=3).collect()
    side = lambda r, s: (r[f"{s}_code"], r[f"{s}_v1"], r[f"{s}_v2"])  # noqa: E731
    got_ov = [(frozenset((side(r, "a"), side(r, "b"))), r.overlap) for r in ov]
    assert len({pair for pair, _ in got_ov}) == len(got_ov)
    capsets = {
        c: vs for c, vs in brute_capture_sets(triples).items() if len(vs) >= 3
    }
    expected_ov = {
        frozenset((a, b)): len(capsets[a] & capsets[b])
        for a, b in itertools.combinations(capsets, 2)
        if len(capsets[a] & capsets[b]) >= 3
    }
    assert dict(got_ov) == expected_ov
    for minimal in (False, True):
        expected = brute_cinds(triples, min_support=3, minimal=minimal)
        got = spark_cinds(spark, triples, min_support=3, minimal=minimal)
        assert got == expected, f"minimal={minimal}"


def test_grouped_pair_counts_block_split_matches_combinations(spark, monkeypatch):
    """The block split of the pair enumerator on its own, with
    HOT_LINE_K = 3: lines of widths 1-10 hit the narrow path, exact
    block edges (3, 6) and partial last blocks (4, 7, 10).  Counts equal
    a brute-force census of every line's pairs, one row per unordered
    pair, each row (h1, h2)-lex oriented — with the wide lines named as
    the census names them, and equally with none or every line named."""
    from collections import Counter

    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 3)
    rng = random.Random(5)
    pool = sorted({(rng.randrange(-50, 50), rng.randrange(-3, 3)) for _ in range(14)})
    rows = []
    expected = Counter()
    for line, width in enumerate((1, 2, 3, 4, 6, 7, 10, 10, 7)):
        caps = rng.sample(pool, width)
        rows += [(line, -line, h1, h2) for h1, h2 in caps]
        expected.update(itertools.combinations(sorted(caps), 2))
    capf = spark.createDataFrame(rows, "jv1 long, jv2 int, h1 long, h2 int")
    widths = capf.groupBy("jv1", "jv2").count()
    census = widths.filter("count > 3")
    assert census.count() == 6
    for wide in (census, None, widths):
        got = cind_mod._grouped_pair_counts(capf, 1, wide=wide).collect()
        keys = [((r.a_h1, r.a_h2), (r.b_h1, r.b_h2)) for r in got]
        assert len(set(keys)) == len(keys)
        assert all(a < b for a, b in keys)
        assert {k: r.overlap for k, r in zip(keys, got)} == dict(expected)
    floor = cind_mod._grouped_pair_counts(capf, 3, wide=census).collect()
    assert {((r.a_h1, r.a_h2), (r.b_h1, r.b_h2)): r.overlap for r in floor} == {
        k: n for k, n in expected.items() if n >= 3
    }


def test_hot_index_runs_no_python_worker(spark):
    """The mask index is built from JVM literals: its plan has no
    local-data (LogicalRDD) leaf, so no Python worker starts for it.
    The key extremes round-trip exactly."""
    from rdfind_spark.operators import cind as cind_mod

    hot = [(-(2**62), -7), (3, 2**31 - 1), (5, 0), (-(2**63), -(2**31)), (2**63 - 1, 1)]
    idx = cind_mod._hot_index(spark.range(1), hot)
    leaves = idx._jdf.queryExecution().analyzed().collectLeaves()
    names = [leaves.apply(i).getClass().getName() for i in range(leaves.size())]
    assert not any(n.endswith(".LogicalRDD") for n in names), names
    assert sorted(tuple(r) for r in idx.collect()) == sorted(
        (a, b, i) for i, (a, b) in enumerate(hot)
    )
    assert idx.schema.simpleString() == "struct<jv1:bigint,jv2:int,idx:int>"
    assert cind_mod._hot_index(spark.range(1), []).count() == 0


def test_engine_jobs_stay_on_callers_thread(spark, monkeypatch):
    """The engine submits every Spark job from the caller's thread, so
    each job carries the caller's local properties: a job group set
    around a discovery covers all of its jobs, and no job lands outside
    a group.  The fixture is the overflow test's (HOT_LINE_K=2,
    MAX_HOT_MASK=4): census, masks, overflow and the deep class all
    run."""
    from rdfind_spark.operators import cind as cind_mod

    monkeypatch.setattr(cind_mod, "HOT_LINE_K", 2)
    monkeypatch.setattr(cind_mod, "MAX_HOT_MASK", 4)
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
    df = spark.createDataFrame(triples, ["subj", "pred", "obj"])
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "caller-thread-discovery"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "discovery on the caller's thread")
    try:
        assert discover_cinds(df, min_support=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert tracker.getJobIdsForGroup(group)
    assert not escaped, f"jobs {sorted(escaped)} ran without the group"


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


# -------------------------------------------- degenerate & property


def test_min_support_above_data_yields_empty(spark):
    """All strategies must return an empty (not failing) result when no
    capture reaches min_support."""
    from rdfind_spark.plans import traversal

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    for s in (0, 1, 2, 3):
        assert traversal(df, strategy=s, min_support=10_000).count() == 0, s


def test_property_random_triples_all_strategies_agree(spark):
    """Property test (SURVEY §5): on random small triple sets over a
    tiny alphabet, every strategy reproduces the brute-force oracle."""
    from hypothesis import given, settings, strategies as st

    from rdfind_spark.plans import traversal

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
        for s in (0, 1, 2, 3):
            got = {
                tuple(r)
                for r in traversal(df, strategy=s, min_support=2).collect()
            }
            assert got == expected, s

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


# ------------------------------------------- generalizations and prefix


def test_capture_generalizations_match_generalization_map(spark):
    """One row per valid code: each binary code explodes to exactly its
    ``GENERALIZATION_MAP`` entries (value1 or value2 kept), each of the
    six unary codes to nothing."""
    from pyspark.sql import functions as F

    from rdfind_spark.operators.cind import capture_generalizations

    rows = [(c, "x", "y" if c in cc.VALID_BINARY_CODES else "") for c in sorted(cc.VALID_CODES)]
    df = spark.createDataFrame(rows, "code int, v1 string, v2 string")
    gens = df.select("code", F.inline(capture_generalizations("code", "v1", "v2")))
    got: dict[int, list] = {}
    for r in gens.collect():
        got.setdefault(r.code, []).append((r.g_code, r.g_v1))
    assert {c: sorted(g) for c, g in got.items()} == {
        b: sorted((u, "x" if i == 1 else "y") for u, i in g)
        for b, g in cc.GENERALIZATION_MAP.items()
    }
    assert len(cc.VALID_UNARY_CODES) == 6 and not set(got) & cc.VALID_UNARY_CODES
    assert gens.schema.simpleString() == "struct<code:int,g_code:int,g_v1:string>"


def test_minimality_plan_has_no_union(spark, monkeypatch):
    """Both minimality directions expand generalizations with one
    generator each, so the pass's captured plan holds no Union."""
    from rdfind_spark import util
    from rdfind_spark.operators.cind import remove_implied_cinds

    monkeypatch.setattr(util, "PLAN_CAPTURE", {})
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    out = remove_implied_cinds(discover_cinds(df, min_support=2, minimal=False))
    assert {tuple(r) for r in out.collect()} == brute_cinds(TINY, 2, minimal=True)
    assert "Union" not in util.PLAN_CAPTURE["minimality"]


def test_capture_prefix_caches_no_distinct_instances(spark):
    """The prefix caches ``freq_h``, ``frequent`` and ``capf`` only; the
    distinct hashed instances it returns stay lazy."""
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    _, dcap_h, freq_h, frequent, capf = build_capture_tables(df, 2)
    try:
        assert not dcap_h.is_cached
        assert freq_h.is_cached and frequent.is_cached and capf.is_cached
        assert capf.count() == capf.distinct().count()
    finally:
        for t in (capf, freq_h, frequent):
            t.unpersist()


def test_capture_prefix_frequent_matches_support_census(spark, sf_dir):
    """The prefix's ``frequent`` is the standalone support census."""
    from rdfind_spark.operators.cind import frequent_capture_supports

    triples = triple_view(spark, sf_dir)
    _, _, freq_h, frequent, capf = build_capture_tables(triples, 10)
    try:
        got = sorted(tuple(r) for r in frequent.collect())
    finally:
        for t in (capf, freq_h, frequent):
            t.unpersist()
    assert got
    assert got == sorted(tuple(r) for r in frequent_capture_supports(triples, 10).collect())


def test_nonminimal_discovery_leaves_no_cached_table(spark):
    """``minimal=False`` returns its CIND set materialized and releases
    the persisted overlap table, as the minimal branch does."""
    from rdfind_spark.plans import traversal
    from rdfind_spark.session import drop_cached

    drop_cached(spark)
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    assert traversal(df, strategy=0, min_support=2, minimal=False).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

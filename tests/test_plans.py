"""Physical-plan shape assertions: the properties the engine's scale
posture depends on (predicate pushdown, column pruning, broadcast
joins, whole-stage codegen, and the deliberate NON-broadcast of the
pair join) must survive refactors, not just be claimed in docstrings."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from rdfind_spark.operators.cind import build_capture_tables
from rdfind_spark.operators.captures import capture_candidates
from rdfind_spark.sources.triples import triple_view


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_parquet_filter_pushdown_and_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    p = plan_of(q)
    assert "PushedFilters" in p and "lang" in p.split("PushedFilters", 1)[1][:200]
    read_schema = p.split("ReadSchema", 1)[1][:200]
    assert "text" not in read_schema, "unused wide column must be pruned from scan"


def test_frequent_capture_pruning_broadcasts(spark, sf_dir):
    capf = build_capture_tables(triple_view(spark, sf_dir), 10)[4]
    p = plan_of(capf)
    assert "BroadcastHashJoin" in p, "frequent-set pruning join must broadcast"


def test_census_runs_in_wholestage_codegen(spark, sf_dir):
    """The explode+aggregate census must stay inside whole-stage codegen
    (`*(n)` spans) — no Python UDF or codegen-breaking expression in the
    hot path.  AQE wraps the plan pre-execution and hides the markers,
    so it is disabled just for the explain."""
    from rdfind_spark.operators.census import condition_counts

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(condition_counts(triple_view(spark, sf_dir)), mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in p, "census should run inside WholeStageCodegen spans"


def test_pair_stage_groups_lines_no_self_join(spark, sf_dir):
    """Narrow-line pair generation must be the grouped-line array
    emission (r11: sort_array(collect_list) + higher-order pair
    explode), NOT a self-join of the capture table: the join shape
    shuffled the table twice and probed a corpus-sized hash relation —
    and under Catalyst's post-explode size underestimates it could
    even broadcast-build the entire capture table on the driver (the
    hazard the previous ShuffledHashJoin pin guarded).  With no hot
    lines (this fixture), NO join of two capture-table-sized
    relations may remain in the pair plan; the only joins are the
    result-sized broadcast restore joins."""
    from rdfind_spark.operators.cind import capture_overlaps

    _, _, _, freq, capf = build_capture_tables(triple_view(spark, sf_dir), 10)
    ov = capture_overlaps(capf, freq, min_overlap=10)
    p = plan_of(ov, mode="simple")
    assert "collect_list(" in p, p[:2000]
    assert "ShuffledHashJoin" not in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_traversal_dispatch(spark):
    """Every strategy runs the exact all-at-once path of strategy 0 —
    1 (small-to-large) with minimality always on, 2 and 3 (the
    reference's approximate family,
    plan/ApproximateAllAtOnceTraversalStrategy.scala and
    plan/LateBBTraversalStrategy.scala) as given — and every strategy
    must agree on the tiny fixture."""
    import warnings

    from rdfind_spark.plans import traversal
    from tests.test_cind_engine import TINY

    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    results = {
        s: {tuple(r) for r in traversal(df, strategy=s, min_support=2).collect()}
        for s in (0, 1, 2, 3)
    }
    assert results[0], "fixture must produce CINDs"
    assert results[3] == results[2] == results[1] == results[0]
    # strategy 1 always returns the minimal set → minimal=False warns loudly
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        forced = traversal(df, strategy=1, min_support=2, minimal=False)
        assert any("minimal" in str(w.message) for w in caught)
    assert {tuple(r) for r in forced.collect()} == results[1]
    # but strategy 3 honors it (the all-at-once path emits the full set)
    full = {
        tuple(r)
        for r in traversal(df, strategy=3, min_support=2, minimal=False).collect()
    }
    assert full >= results[3] and len(full) > len(results[3])


def test_bucketed_capture_table_joins_without_shuffle(spark, sf_dir, tmp_path):
    """A capture table bucketed on join_value must self-join with no
    Exchange under the join (bucket pruning of the shuffle — the
    cross-stage reuse pattern for the 100 TB posture)."""
    from rdfind_spark.sources.sinks import write_bucketed

    dcap = capture_candidates(triple_view(spark, sf_dir)).distinct().limit(50000)
    write_bucketed(
        dcap, "capt_bucketed", ["join_value"], 8, path=str(tmp_path / "capb")
    )
    t = spark.table("capt_bucketed")
    joined = t.alias("a").join(t.alias("b"), on="join_value")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(joined, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" in p
    assert "Exchange" not in p, "bucketed self-join must not re-shuffle"


def test_rp_reduce_is_shuffle_free(spark, sf_dir):
    """The random projection claims single-stage narrow execution: the
    plan must contain NO Exchange of any kind."""
    from rdfind_spark.functions.similarity import rp_reduce

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(rp_reduce(embs))
    assert "Exchange" not in p, "projection must not shuffle"


def test_big_spender_qualifying_set_broadcasts(spark, sf_dir):
    """The HAVING-threshold aggregate's tiny qualifying set must be the
    broadcast build side of the decoration joins (never a fact × fact
    shuffle)."""
    from rdfind_spark.functions.warehouse import big_spender_orders

    q = big_spender_orders(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    assert "BroadcastHashJoin" in plan_of(q)


def test_min_cost_supplier_semijoin_before_aggregate_single_window(
    spark, sf_dir
):
    """The part filter must reach the part scan (pushdown) and prune
    the fact rows through a broadcast LEFT SEMI before the aggregate;
    the correlated MIN is exactly one Window over the aggregated
    table."""
    from rdfind_spark.functions.warehouse import min_cost_supplier

    q = min_cost_supplier(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
    )
    p = plan_of(q)
    assert "LeftSemi" in p
    assert "Window (" in p
    assert "EqualTo(p_type,STANDARD)" in p, "part filter must push to scan"


def test_ivf_pq_encode_is_narrow_and_lut_broadcasts(spark, sf_dir):
    """IVF-PQ's scale claims, pinned: (a) the PQ encode (codes + exact
    integer norms) is a single narrow projection over the quantized
    vectors — no Exchange of any kind; (b) the full query's ADC stage
    joins the per-query LUT as a broadcast build side (the classic PQ
    lookup, never a shuffle of the candidate set against the LUT)."""
    from rdfind_spark.functions import similarity as sim
    from rdfind_spark.util import materialize

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = materialize(
        embs.select("vec_id", sim._quantized("embedding").alias("q"))
    )
    books = sim._pq_codebooks(q)
    codes = sim._pq_codes(q, books, sim.PQ_DSUB)
    assert "Exchange" not in plan_of(codes), "PQ encode must not shuffle"
    assert "BroadcastHashJoin" in plan_of(sim.knn_ivf_pq(embs))


def test_ivf_pq_trained_has_no_cartesian_stage(spark, sf_dir):
    """The trained-coarse PQ variant's scale shape, pinned: the seeded
    variant's one (trivial, broadcast) query x centroids crossJoin is
    GONE — coarse probes and assignment are literal-centroid argmax
    projections — so the whole plan must contain no cartesian or
    nested-loop join at all, while the ADC LUT still broadcasts."""
    from rdfind_spark.functions import similarity as sim

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(sim.knn_ivf_pq_trained(embs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_market_share_single_fact_aggregate(spark, sf_dir):
    """Q8's ratio of conditional aggregates must be ONE aggregate over
    the fact join — no self-join of the fact and no window: exactly one
    lineitem scan, zero Window nodes, part filter pushed to its scan,
    every dimension joined as a broadcast build side."""
    from rdfind_spark.functions.warehouse import market_share

    q = market_share(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"),
    )
    p = plan_of(q)
    assert p.count("lineitem.parquet") == 1, "fact must be scanned once"
    assert "Window (" not in p
    assert "EqualTo(p_type,STANDARD)" in p, "part filter must push to scan"
    assert "BroadcastHashJoin" in p


def test_promo_bands_brand_union_pushes_to_part_scan(spark, sf_dir):
    from rdfind_spark.functions.warehouse import promo_band_revenue

    q = promo_band_revenue(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/part.parquet"),
    )
    p = plan_of(q)
    assert "In(p_brand" in p, "brand union must push to the part scan"
    assert "BroadcastHashJoin" in p


def test_custdist_aggregates_fact_before_outer_join(spark, sf_dir):
    """Q13 shape: the orders fact must collapse to key-level counts
    BEFORE the left outer join (aggregate below the join in the plan),
    and the key-level side broadcasts — the outer join never sees the
    raw order stream."""
    from rdfind_spark.functions.warehouse import customer_distribution

    q = customer_distribution(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
    )
    p = plan_of(q, "simple")
    assert "BroadcastHashJoin" in p and "LeftOuter" in p
    # the aggregate over o_custkey sits below the join in the tree:
    # the join's build side is the aggregated relation, not the raw
    # orders scan
    assert p.index("LeftOuter") < p.index("HashAggregate(keys=[o_custkey")
    # priority filter pushed to the orders scan
    assert "o_orderpriority" in p


def test_sales_opportunity_anti_join_and_single_row_pool(spark, sf_dir):
    """Q22 shape: dormancy is a LeftAnti against the DISTINCT
    qualifying custkeys (aggregate below the anti join), the pool
    average is a single-row broadcast, and the segment filter pushes
    to the customer scan."""
    from rdfind_spark.functions.warehouse import sales_opportunity

    q = sales_opportunity(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
    )
    p = plan_of(q)
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row pool cross join
    # the anti build side is the distinct keys, not the raw orders scan
    assert p.count("orders.parquet") == 1
    assert "In(c_mktsegment" in p, "segment filter must push to scan"


def _broadcast_subtrees(plan: str) -> list[str]:
    """Split a simple-mode plan into one string per BroadcastExchange
    subtree (the exchange line plus every line strictly more indented
    than it, i.e. its build-side input)."""

    def marker(ln: str) -> int:
        pos = [ln.find(m) for m in ("+-", ":-") if ln.find(m) != -1]
        return min(pos) if pos else -1

    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln or "ReusedExchange" in ln:
            continue
        d = marker(ln)
        sub = [ln]
        for nxt in lines[i + 1 :]:
            nd = marker(nxt)
            if nd != -1 and nd <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def _without_auto_broadcast(spark):
    """Context for plan pins that must see FORCED broadcasts only:
    AQE off (stable markers) and auto-broadcast disabled, so any
    BroadcastExchange left in the plan comes from an explicit hint."""
    import contextlib as _ctx

    @_ctx.contextmanager
    def cm():
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    return cm()


def test_semantic_dedup_broadcast_is_reduced_not_corpus(spark, sf_dir):
    """SemDeDup's representative-embedding broadcast must be the
    cluster-count-sized relation (raw embeddings LEFT SEMI the rep-id
    set), never the whole embeddings projection: broadcasting the
    corpus is a guaranteed OOM at 100 TB.  Pin: the BroadcastExchange
    whose subtree carries r_emb has the LeftSemi reduction BELOW it."""
    from rdfind_spark.functions.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _without_auto_broadcast(spark):
        p = plan_of(semantic_dedup(emb), "simple")
    rep_subtrees = [s for s in _broadcast_subtrees(p) if "r_emb" in s]
    assert rep_subtrees, "the reduced rep_emb relation should broadcast"
    for sub in rep_subtrees:
        assert "LeftSemi" in sub, (
            "broadcast build side must be the semi-join-reduced rep "
            "embeddings, not the raw corpus projection:\n" + sub
        )


def test_value_anomalies_has_no_forced_broadcast(spark, sf_dir):
    """The per-user stats relation is unbounded in the data (one row
    per user), so the join back onto the stream must carry NO broadcast
    hint — AQE may still choose broadcast at runtime when it fits, but
    with auto-broadcast disabled the static plan must degrade to a
    shuffle join, proving no hint forces it."""
    from rdfind_spark.functions.events import value_anomalies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with _without_auto_broadcast(spark):
        p = plan_of(value_anomalies(ev), "simple")
    assert "BroadcastHashJoin" not in p and "BroadcastExchange" not in p, (
        "user-stats join must not force a broadcast:\n" + p
    )
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_supplier_census_filters_push_and_anti_join(spark, sf_dir):
    """Q16 shape: both dimension IN-lists and the brand inequality push
    to the part scan, the complaint exclusion plans as a LEFT ANTI
    (never a NOT IN rescan), the lineitem scan reads ONLY the two key
    columns, and the pair dedup aggregates below the dimension join."""
    from rdfind_spark.functions.warehouse import supplier_relationship_census

    q = supplier_relationship_census(
        spark.read.parquet(f"{sf_dir}/part.parquet"),
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    p = plan_of(q)
    assert "LeftAnti" in p
    assert "Not(EqualTo(p_brand" in p, "brand exclusion must push to scan"
    assert "In(p_type" in p and "In(p_size" in p
    # column pruning: the fact scan reads only the join keys
    li_schema = p.split("lineitem.parquet", 1)[1]
    li_schema = li_schema.split("ReadSchema", 1)[1][:120]
    assert "l_partkey" in li_schema and "l_suppkey" in li_schema
    assert "l_quantity" not in li_schema and "l_extendedprice" not in li_schema


def test_waiting_suppliers_semi_anti_on_collapsed_pairs(spark, sf_dir):
    """Q21 shape: the EXISTS plans as LEFT SEMI, the NOT EXISTS as
    LEFT ANTI, the status filter pushes to the orders scan, and the
    lineitem scans read only the key/date columns (never the money
    columns)."""
    from rdfind_spark.functions.warehouse import waiting_suppliers

    q = waiting_suppliers(
        spark.read.parquet(f"{sf_dir}/supplier.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    p = plan_of(q)
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "EqualTo(o_orderstatus,F)" in p, "status filter must push to scan"
    li_schema = p.split("lineitem.parquet", 1)[1].split("ReadSchema", 1)[1][:160]
    assert "l_extendedprice" not in li_schema and "l_quantity" not in li_schema


def test_lsh_knn_broadcasts_query_set_not_corpus(spark, sf_dir):
    """knn_lsh and knn_lsh_multiprobe exact-score candidates by joining
    the query embeddings back on; the broadcast build side must be the
    n_queries-bounded projection (vec_id < n_queries filter BELOW the
    exchange), never the whole embeddings table — the same unbounded
    forced-broadcast hazard fixed in semantic_dedup/value_anomalies."""
    from rdfind_spark.functions.similarity import knn_lsh, knn_lsh_multiprobe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for fn in (knn_lsh, knn_lsh_multiprobe):
        with _without_auto_broadcast(spark):
            p = plan_of(fn(emb), "simple")
        q_subtrees = [s for s in _broadcast_subtrees(p) if "q_emb" in s]
        assert q_subtrees, f"{fn.__name__}: the query projection should broadcast"
        for sub in q_subtrees:
            assert "vec_id" in sub and "<" in sub, (
                f"{fn.__name__}: broadcast build side must carry the "
                "query-set bound, not the raw corpus projection:\n" + sub
            )


def test_containment_only_forced_broadcast_is_hot_set(spark, sf_dir):
    """The containment join's single forced broadcast must be the
    hot-shingle exclusion set (bounded by the df > cap filter — small
    by Zipf at any scale); the corpus-sized arrs/sizes joins carry no
    hint and must degrade to shuffle joins when auto-broadcast is
    off."""
    from rdfind_spark.functions.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _without_auto_broadcast(spark):
        p = plan_of(containment_pairs(docs), "simple")
    subs = _broadcast_subtrees(p)
    assert len(subs) == 1, f"expected exactly the hot-set broadcast:\n{p}"
    assert "shingle" in subs[0] and (">" in subs[0] or "df" in subs[0]), subs[0]
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_returned_items_filters_push_and_aggregate_before_decoration(
    spark, sf_dir
):
    """Q10 shape pins: the returnflag filter reaches the lineitem scan
    and the date window the orders scan (PushedFilters), the fact
    aggregates to customer keys BELOW the customer join (no
    customer-wide fact join), and the top-20 plans as a TakeOrdered."""
    from rdfind_spark.functions.warehouse import returned_item_revenue

    df = returned_item_revenue(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
    )
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("l_returnflag" in f for f in pushed), pushed
    assert any("o_orderdate" in f for f in pushed), pushed
    # the aggregate sits below the customer join: trees print top-down,
    # so the revenue HashAggregate must appear INSIDE (textually after)
    # the first c_name-carrying join line, never above it
    simple = plan_of(df, "simple")
    agg_pos = simple.find("HashAggregate")
    cust_join_pos = simple.find("c_name")
    assert 0 <= cust_join_pos < agg_pos, simple
    assert "o_custkey" in simple[agg_pos : agg_pos + 200], simple


def test_small_qty_class_semijoin_below_aggregate(spark, sf_dir):
    """Q17 shape pins: the part-class filter pushes to the part scan,
    the class restriction joins the fact BEFORE the per-part mean
    aggregate (the aggregate never sees out-of-class rows), and the
    lineitem scan reads only the needed columns."""
    from rdfind_spark.functions.warehouse import small_qty_revenue

    df = small_qty_revenue(
        spark.read.parquet(f"{sf_dir}/part.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
    )
    p = plan_of(df)
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("p_size" in f for f in pushed), pushed
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    li_schema = [s for s in schemas if "l_partkey" in s]
    assert li_schema and all(
        "l_returnflag" not in s and "l_shipdate" not in s for s in li_schema
    ), schemas
    simple = plan_of(df, "simple")
    # the class join must sit in the INPUT subtree of every aggregate
    # (trees print top-down): a class semi-join BELOW the means
    # aggregate means a BroadcastHashJoin still appears after the last
    # HashAggregate line
    last_agg = simple.rfind("HashAggregate")
    assert last_agg >= 0, simple
    assert "BroadcastHashJoin" in simple[last_agg:], simple


def test_url_dedup_single_shuffle_all_jvm(spark, sf_dir):
    """docs_url_dedup's scale posture: canonicalization is per-row JVM
    regex (no Python eval anywhere in the plan) and the dedup is ONE
    hash shuffle on the canonical key — the linear exact-dedup shape."""
    from rdfind_spark.functions.dedup import url_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(url_dedup(docs), mode="simple")
    assert "EvalPython" not in p, "canonicalizer must stay JVM-side"
    assert p.count("Exchange hashpartitioning") == 1, p


def test_zipf_triples_derivation_is_shuffle_free(spark, sf_dir):
    """cind_zipf_skew's fixture derivation must add NO shuffle of its
    own (narrow projections of orders, k-expansion via broadcast range
    cross joins) — all shuffle work belongs to the CIND engine being
    measured, not the fixture."""
    from rdfind_spark.sources.skew import zipf_triples

    p = plan_of(zipf_triples(spark, sf_dir), mode="simple")
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "EvalPython" not in p


def test_hybrid_rrf_legs_end_in_topk_heaps(spark, sf_dir):
    """docs_hybrid_search: each retrieval leg must end in a
    TakeOrderedAndProject (a distributed top-k heap), never a global
    Sort of the corpus, and the fusion is a full-outer join of the two
    bounded lists."""
    from rdfind_spark.functions.corpus_stats import hybrid_rrf_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(hybrid_rrf_search(docs), mode="formatted")
    assert p.count("TakeOrderedAndProject") >= 2, p
    assert "FullOuter" in p


def test_plan_capture_hook_records_only_when_armed(spark):
    """util.PLAN_CAPTURE (dump_plans introspection): disarmed (None,
    the default) capture_plan is a no-op; armed, it records the
    formatted physical plan under the label.  remove_implied_cinds
    calls this on its pinned pass, so the hook must never raise."""
    from rdfind_spark import util

    assert util.PLAN_CAPTURE is None  # library default: disarmed
    util.capture_plan("noop", spark.range(1))  # must not record or raise
    util.PLAN_CAPTURE = {}
    try:
        util.capture_plan("tiny", spark.range(3))
        assert "Range" in util.PLAN_CAPTURE["tiny"]
    finally:
        util.PLAN_CAPTURE = None

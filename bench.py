#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed as build-plan + execute-to-count (foreach-noop style
via ``df.write.format('noop')``) so the measurement includes the full
distributed execution but not driver-side row materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Benchmark the queries that dominate real workloads; census one-liners
# add noise without information. Keep flagship first (cache warm-up is
# NOT shared: each query reads parquet fresh).  Rounds 8-11 each dropped
# a batch of ~1s entries (pure session overhead at sf0.1 — tracked
# nothing) to keep the worst-case JSON line inside the driver's ~2 KB
# tail capture as the list grows; their correctness evidence lives on
# the driver board, not here.  New registrations get one debut round
# in the list before the same rule applies to them.  The cumulative
# drop ledger lives in DROPPED_QUERIES below — tests/test_bench_format
# pins that no dropped entry is ever a min-of-2 heavy (round-10
# verdict task 7: heavy trend lines must never silently vanish).
BENCH_QUERIES = [
    "cind_minimal",
    "cind_small_to_large",
    "cind_approx_verify",
    "cind_all",
    "capture_overlaps",
    "capture_supports",
    "condition_counts_frequent",
    "association_rules",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "knn_ivf",
    "knn_ivf_trained",
    "knn_ivf_pq",
    "knn_ivf_pq_trained",
    "knn_hard_negatives",
    "knn_lsh",
    "dedup_embedding_ivf",
    "dedup_embedding_ivf_neardup",
    "dedup_semantic",
    "dedup_incremental",
    "embedding_kmeans",
    "text_fingerprints",
    "text_tfidf_keywords",
    "text_bpe_vocab",
    "graph_pagerank",
    "graph_components",
    "docs_dup_ngram_fraction",
    "dedup_pair_triangles",
    "text_bpe_encode",
    "docs_lm_score",
    "dedup_shingle_cosine",
    "docs_dup_spans",
    "dedup_jaccard_prefix",
    "dedup_minhash_estimate",
    "warehouse_supplier_census",
    "graph_kcore",
    "knn_lsh_multiprobe",
    "warehouse_waiting_suppliers",
    "dedup_funnel",
    "dedup_containment",
    # --- round-11 debuts
    "cind_zipf_skew",
    "multimodal_gif_stats",
    "multimodal_png_stats",
    "docs_url_dedup",
    "docs_hybrid_search",
]
# Debut-round exception: graph_kcore_decrement is the deliberately
# slower physical strategy of the already-benched graph_kcore (forced
# decrement-peel, registered so the driver's oracle check pins
# strategy agreement); benching both strategies of one operator would
# double-count it, so the restrict twin stays the measured entry.

# Cumulative drop ledger: every query that has EVER appeared in a
# BENCH_r*.json but is no longer in BENCH_QUERIES (reconstructed from
# the committed artifacts; all were ~0.6-2.5s at sf0.1 when dropped —
# session overhead, not operator signal).  The r11 batch: the three
# r10 debuts past their debut round (warehouse_returned_items 0.7s,
# warehouse_small_qty_revenue 0.8s, text_feature_hashing 1.4s in
# BENCH_r10) and docs_keyword_search (1.2s — its BM25 leg now runs
# INSIDE the benched docs_hybrid_search, so the timing signal is
# retained there).
DROPPED_QUERIES = {
    # dropped r8-r10 (first-benched round in the artifact trail)
    "docs_dsir_weights", "docs_export_train", "docs_pack_sequences",
    "docs_quality_filter", "embedding_rp_reduce", "events_asof_join",
    "events_hourly_counts", "events_moving_window", "events_range_join",
    "events_sessionize", "events_transitions", "knn_bruteforce",
    "multimodal_audio_stats", "multimodal_bmp_stats",
    "multimodal_features", "multimodal_frame_stats", "text_bigrams",
    "text_skipgram_cooc", "warehouse_big_spenders", "warehouse_custdist",
    "warehouse_market_share", "warehouse_revenue_by_nation",
    "warehouse_sales_opportunity",
    # r11 batch
    "warehouse_returned_items", "warehouse_small_qty_revenue",
    "text_feature_hashing", "docs_keyword_search",
}

# Min-of-2 set: the 7 heavies plus the next tier (10-20s single runs
# whose one bad draw on a ±40% VM reads as a fake regression next
# round — round-6 verdict item 6; graph_components joined as the
# largest remaining single-run at ~20s, dedup_shingle_cosine at round 8
# as a ~10s single-run).  At observed sf0.1 costs the full repeat is
# ~450s; the budget default covers it with headroom.
HEAVY_QUERIES = {
    "cind_minimal",
    "cind_small_to_large",
    "cind_approx_verify",
    "cind_all",
    "capture_overlaps",
    "capture_supports",
    "graph_pagerank",
    "graph_components",
    "graph_kcore",
    "dedup_ngram_jaccard",
    "dedup_shingle_cosine",
    "dedup_jaccard_prefix",
    "dedup_minhash_estimate",
    "dedup_funnel",
    # joined r10 (~21s single-run at sf0.1): heavies_subtotal grows by
    # exactly this one entry vs BENCH_r09 — subtract it for the
    # like-for-like round-over-round trend
    "dedup_containment",
    "knn_ivf_pq_trained",
    "association_rules",
    # joined r11 (71.1s single-run at sf0.1 — the hot-mask/salted
    # decomposition under real hub skew, the engine's 100×-scale
    # path; same composition rule: heavies_subtotal grows by exactly
    # this entry vs BENCH_r10 — subtract it for like-for-like)
    "cind_zipf_skew",
}


def repeat_order_for(timings: dict, queries: set, heavy: set) -> list:
    """Order of the min-of-2 repeat pass: heavies in DESCENDING
    first-run cost (r11 verdict item 2).  The old BENCH_QUERIES-order
    loop let earlier heavies' slow bad-phase second runs eat the budget
    before the LAST heavy — the one whose bad first draw most needed a
    min-of-2 — got its turn (r11: cind_zipf_skew drew 482.8s as a
    single run and poisoned the artifact).  Cost-descending ordering
    repeats the most weather-sensitive entries first; main() exempts
    index 0 (the most expensive heavy) from the budget check and does
    not charge its repeat to the budget, so a bad-phase draw on the top
    heavy can neither self-censor its own repeat nor starve the rest.  Ties break by bench-list position (deterministic)."""
    pos = {n: i for i, n in enumerate(BENCH_QUERIES)}
    return sorted(
        (n for n in BENCH_QUERIES if n in queries and n in heavy),
        key=lambda n: (-timings[n], pos[n]),
    )


def format_result(
    timings: dict, runs_per_query: dict, heavy: set, sf
) -> str:
    """The ONE JSON line the driver records.  The driver keeps only the
    LAST ~2000 bytes of output, so this line must fit inside that
    window (round 4's artifact was lost to a ~2.6 KB line: timings at
    3 decimals plus a 42-entry runs map).  Compact discipline: 0.1s
    rounding, compact separators, "min_of2" as the list of queries
    whose number is a min-of-2 (everything else is a single run).
    Full-precision per-query lines go to stderr; the JSON stays the
    last thing printed.  If the line still exceeds the guard, the
    sub-heavy per-query detail is elided rather than ever overflowing
    the capture (tests/test_bench_format.py pins both regimes).

    ``heavies_subtotal`` sums the FIXED min-of-2 heavy set: the board
    tail churns between rounds (queries added/dropped), so ``value``
    is only cross-round comparable after shared-set arithmetic; the
    heavy set is stable, making its subtotal the round-over-round
    trend number."""
    total = round(sum(timings.values()), 1)
    heavies_subtotal = round(
        sum(v for n, v in timings.items() if n in heavy), 1
    )
    min_of2 = sorted(n for n, r in runs_per_query.items() if r >= 2)
    line = json.dumps(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "heavies_subtotal": heavies_subtotal,
            "queries": {n: round(v, 1) for n, v in timings.items()},
            "min_of2": min_of2,
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) > 1800:
        # never lose the headline numbers again: drop the tail queries'
        # per-query detail before the heavies rather than overflow
        kept = {n: round(timings[n], 1) for n in timings if n in heavy}
        line = json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "heavies_subtotal": heavies_subtotal,
                "queries": kept,
                "queries_elided": len(timings) - len(kept),
                "min_of2": min_of2,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    return line


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("rdfind-spark-bench")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class retention across the ~47-query session (r11
        # optimization round, guide §1/§7): the codegen class cache is
        # 100 entries by DEFAULT, so by query ~40 the classes the
        # warmup (and the early heavies) JIT-compiled have been evicted
        # and late queries re-pay janino compilation + full C2 warmup
        # ON TIMED DATA — measured: cind_zipf_skew 271.7s as bench
        # query #43 vs 65.7s as query #7 of a short session on the same
        # tree (same machine, same hour).  Session-lifetime retention
        # (not per-query state) is also how a long-lived cluster app
        # behaves; both knobs are data-scale-independent.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Default 240 MB of JIT code cache silently flushes compiled
        # code under the same churn (UseCodeCacheFlushing prints no
        # warning); give the 47-query session room to keep hot code.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch every input once (OS page cache), then run each
    # benched query at sf0.001 (untimed).  The tiny run executes the
    # SAME plan shapes, so all whole-stage-codegen classes compile and
    # JIT before anything is timed — measured: the first cold heavy
    # query otherwise pays 60-90s of JIT alone (cind_minimal 152s cold
    # vs 47s after a 27s sf0.001 warmup), which would be measured as
    # query time.  (events.parquet may be TIMESTAMP(NANOS); without the
    # conf the warmup read would throw and silently skip the file.)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass

    queries = entry.queries()

    def _drop_leftover_cache() -> None:
        # Queries that persist intermediates (the CIND engines persist
        # shared capture tables) release them on their own hot path,
        # but anything still cached after a query returns would eat
        # executor memory and poison the NEXT measurement (observed:
        # capture_supports 1.3s → 14s when run after a query that
        # leaked its persisted prefix).  Cleanup runs OUTSIDE the
        # timers: each query still pays its own cache builds.
        spark.catalog.clearCache()
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(False)
        # Broadcast and localCheckpoint blocks are reclaimed by the
        # ContextCleaner only after a driver GC notices the dropped
        # references; in a 25-query session the lag measurably slows
        # later queries (heavy queries ran ~2x their isolated time by
        # mid-bench).  Force the GC between timed queries.
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    # Untimed warmup (guide §1: measure the computation, not JIT).
    # Through round 10 only the three heavy CIND queries warmed, on the
    # theory that they cover the dominant codegen shapes; the r11
    # measurement says otherwise — every query's FIRST run carries its
    # own janino compile + C2 warmup (cind_minimal measured 222.5s as
    # the first sf0.1 query of a session vs 48s repeat; min-of-2 hides
    # this for heavies but the ~30 single-run tail entries were all
    # paying it inside their timed window).  So: run EVERY benched
    # query once at sf0.001 (same plan shapes, compile+JIT off the
    # clock), and cind_zipf_skew additionally at sf0.01 — its hot-line
    # mask/salt/deep-capture classes only exist when a join line
    # exceeds HOT_LINE_K captures, a threshold the sf0.001 fixture
    # never reaches (hub width ~N/20), so the sf0.001 pass alone leaves
    # exactly the heaviest query's hottest code uncompiled.  Results
    # are never reused (different input directory) — this warms code,
    # not data.
    # The warmup pass is UNTIMED and its results are discarded, so its
    # only job is compiling code — run the queries from a small thread
    # pool (guide §2.6 "overlap independent jobs"): much of a tiny-SF
    # run is single-threaded driver work (plan composition, janino
    # compile, driver-iteration loops), so 4 in flight back-fill each
    # other's serial phases.  Sequential warmup measured 1339.6s wall;
    # the TIMED queries below stay strictly sequential/isolated — the
    # measurement methodology is unchanged.  Cache cleanup runs once at
    # the end (not between warmups): clearCache is session-global and
    # would yank a concurrent query's persisted prefix mid-flight;
    # each query already unpersists what it persisted on its hot path.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.environ.get("SPARK_GRAFT_NO_WARMUP") != "1":
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.time()
        warm_runs = [(n, warm_dir) for n in BENCH_QUERIES]
        if os.path.isdir("/root/testdata/sf0.01"):
            warm_runs.append(("cind_zipf_skew", "/root/testdata/sf0.01"))

        def _warm_one(name: str, wdir: str) -> None:
            try:
                queries[name](spark, wdir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)

        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [
                pool.submit(_warm_one, name, wdir)
                for name, wdir in warm_runs
                if name in queries
            ]
            for f in futs:
                f.result()
        # The loop queries pin spark.sql.shuffle.partitions via a
        # save/restore scope; interleaved concurrent restores can save
        # each other's pinned value and leave the session conf wrong
        # after the pool drains.  Hard-reset it to the session value
        # before anything is timed.
        spark.conf.set("spark.sql.shuffle.partitions", str(int(cpus) * 4))
        _drop_leftover_cache()
        print(f"# warmup (sf0.001 + zipf@sf0.01, untimed): {time.time() - t0:.1f}s",
              file=sys.stderr)

    # This VM benches with large run-to-run variance (±40% observed on
    # the heavy CIND queries); the heavy set runs twice and reports the
    # min — the steady-state cost a warmed cluster would sustain —
    # while the sub-15s tail runs once (noise there is absolute-small).
    # The repeat pass runs the heavies in DESCENDING first-run cost
    # (repeat_order_for): the most weather-sensitive entries repeat
    # first, and the top heavy (index 0) is exempt from the budget and
    # not charged to it, so one bad draw on it can neither deny its own
    # repeat nor starve the cheaper heavies of theirs.  The budget
    # default covers the full heavy-set repeat at observed sf0.1 costs,
    # so starvation needs real VM weather.
    heavy = HEAVY_QUERIES
    # 520 → 900 (r11 optimization round): cind_zipf_skew joined the
    # heavy set at ~90s calm / ~270s in a bad host phase, and the old
    # budget made the repeat self-censoring exactly when it matters —
    # a bad first draw (271.7s observed) exceeded the remaining budget,
    # so the one query that most needed its min-of-2 second draw was
    # the one denied it.  900 covers the full r11 heavy-set repeat at
    # calm-weather costs (~500s) plus one bad-phase heavy draw.
    repeat_budget_s = float(os.environ.get("SPARK_GRAFT_REPEAT_BUDGET", "900"))
    timings: dict[str, float] = {}
    runs_per_query: dict[str, int] = {}

    def _run_once(name: str) -> float:
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        elapsed = round(time.time() - t0, 3)
        _drop_leftover_cache()
        return elapsed

    for name in BENCH_QUERIES:
        if name not in queries:
            continue
        timings[name] = _run_once(name)
        runs_per_query[name] = 1
    # Repeat pass in DESCENDING first-run cost; index 0 is
    # budget-exempt (see repeat_order_for).
    repeat_order = repeat_order_for(timings, set(queries), heavy)
    repeat_spent = 0.0
    for i, name in enumerate(repeat_order):
        # first-run elapsed is the cost estimate for the repeat — skip
        # (don't break) so a cheap later heavy can still use the budget
        if i > 0 and repeat_spent + timings[name] > repeat_budget_s:
            print(f"# repeat skipped (budget): {name}", file=sys.stderr)
            continue
        elapsed = _run_once(name)
        if i > 0:
            repeat_spent += elapsed
        timings[name] = min(timings[name], elapsed)
        runs_per_query[name] = 2
    for name in timings:
        print(
            f"# {name}: {timings[name]:.1f}s "
            + (
                f"(min of {runs_per_query[name]})"
                if runs_per_query[name] > 1
                else "(1 run)"
            ),
            file=sys.stderr,
        )

    line = format_result(timings, runs_per_query, heavy, sf)
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Disjoint-copy scaling probe: time minimal-CIND discovery on N×
copies of the sf0.1 triple view, each copy value-prefixed so copies
share no values (output must scale exactly ×N — checked).

Usage: python scripts/scale_probe.py
       [--staged|--dedup|--ann|--triangles|--cosine] [N ...]
(default N: 1 2 4)

``--staged`` probes the SmallToLarge staged lattice
(``discover_cinds_staged``) instead of the all-at-once engine.
``--dedup`` probes the exact n-gram-Jaccard near-dup pipeline
(inverted shingle index + candidate-restricted verification) on N×
copies of the documents table, every TOKEN prefixed per copy so
shingle sets are disjoint across copies — the pair set must scale
exactly ×N (checked).  The LSH variant is NOT probed this way on
purpose: its candidate recall depends on the minhash signatures, which
the per-copy prefixes perturb, so a borderline pair can be caught in
one copy and legitimately missed in another (measured: 1023 pairs at
4× vs 4×256 — one borderline miss, not a scaling defect).
"""

import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.session import drop_cached, spark_session
from rdfind_spark.sources.triples import triple_view


def _session():
    """One session config for every probe mode — tuning a knob for one
    mode and not the other would make their timings non-comparable.
    ``SPARK_GRAFT_PROBE_PARTITIONS`` overrides the shuffle parallelism
    (default 4 × cores) — used to measure how much of the top-end probe
    super-linearity is the pinned per-partition volume rather than the
    plan.  ``SPARK_GRAFT_PROBE_MEM`` overrides the driver/executor heap
    (default 48g) — used with the half-base ladder (``--half-base``) to
    separate the single-JVM memory confound from a genuine plan defect:
    if the cost curve tracks working-set-per-heap rather than copy
    count, the super-linearity is the local harness, not the plan."""
    parts = os.environ.get("SPARK_GRAFT_PROBE_PARTITIONS")
    return spark_session(
        "scale-probe",
        shuffle_partitions=int(parts) if parts else None,
        driver_memory=os.environ.get("SPARK_GRAFT_PROBE_MEM", "48g"),
    )


def main() -> int:
    zipf = "--zipf" in sys.argv[1:]
    staged = "--staged" in sys.argv[1:]
    dedup = "--dedup" in sys.argv[1:]
    ann = "--ann" in sys.argv[1:]
    triangles = "--triangles" in sys.argv[1:]
    cosine = "--cosine" in sys.argv[1:]
    spans = "--spans" in sys.argv[1:]
    lmscore = "--lmscore" in sys.argv[1:]
    prefix = "--prefix-jaccard" in sys.argv[1:]
    kcore = "--kcore" in sys.argv[1:]
    funnel = "--funnel" in sys.argv[1:]
    mh_est = "--minhash-est" in sys.argv[1:]
    containment = "--containment" in sys.argv[1:]
    half = "--half-base" in sys.argv[1:]
    args = [
        a
        for a in sys.argv[1:]
        if a not in ("--staged", "--dedup", "--ann", "--triangles",
                     "--cosine", "--spans", "--lmscore", "--prefix-jaccard",
                     "--kcore", "--funnel", "--minhash-est", "--containment",
                     "--half-base", "--zipf")
    ]
    if funnel:
        return _funnel_probe([int(a) for a in args] or [1, 2, 4])
    if mh_est:
        return _minhash_est_probe([int(a) for a in args] or [1, 2, 4])
    if containment:
        return _containment_probe([int(a) for a in args] or [1, 2, 4])
    if kcore:
        return _kcore_probe([int(a) for a in args] or [1, 2, 4])
    if prefix:
        return _prefix_jaccard_probe([int(a) for a in args] or [1, 2, 4])
    if spans:
        return _docs_probe([int(a) for a in args] or [1, 2, 4], "spans")
    if lmscore:
        return _docs_probe([int(a) for a in args] or [1, 2, 4], "lmscore")
    if cosine:
        return _cosine_probe([int(a) for a in args] or [1, 2, 4])
    if triangles:
        return _triangle_probe([int(a) for a in args] or [1, 2, 4])
    if ann:
        return _ann_probe([int(a) for a in args] or [1, 2, 4])
    if dedup:
        return _dedup_probe([int(a) for a in args] or [1, 2, 4])
    if staged:
        from rdfind_spark.operators.staged import discover_cinds_staged

        def discover(tri, support, minimal=True):  # noqa: ARG001
            return discover_cinds_staged(tri, support)

    else:
        discover = discover_cinds
    ns = [int(a) for a in args] or [1, 2, 4]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    # warm codegen once, untimed
    discover(
        triple_view(spark, "/root/testdata/sf0.001"), 10, minimal=True
    ).write.format("noop").mode("overwrite").save()

    if zipf:
        # the cind_zipf_skew fixture (sources/skew.py): per-copy value
        # prefixes keep copies fully disjoint while PRESERVING each
        # copy's hub-line widths, so the ladder scales the number of
        # hot lines (43 -> 43N) without touching their shape — the
        # mask path's cost model under horizontal growth
        from rdfind_spark.sources.skew import zipf_triples

        base = zipf_triples(spark, sf_dir)
    else:
        base = triple_view(spark, sf_dir)
    if half:
        # deterministic ~half-size base: same ladder, half the working
        # set per copy count — 8× of half-base matches 4× of full-base,
        # so a heap-bound curve bends by WORKING SET, a plan-defect
        # curve bends by COPY COUNT
        base = base.filter(F.crc32(F.concat_ws("\x1f", *base.columns)) % 2 == 0)
        print(f"# half-base rows: {base.count()}", flush=True)
    cols = base.columns
    results = {}
    for n in ns:
        copies = [
            base.select(
                *[F.concat(F.lit(f"c{i}|"), F.col(c)).alias(c) for c in cols]
            )
            for i in range(n)
        ]
        tri = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        out = discover(tri, 10, minimal=True)
        rows = out.count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# {n}x: {dt:.1f}s rows={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x rows {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _dedup_probe(ns) -> int:
    from rdfind_spark.functions.dedup import ngram_jaccard_pairs
    from rdfind_spark.functions.text import tokens_col

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    # warm codegen once, untimed
    ngram_jaccard_pairs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        # NB: the prefix literal must be bound OUTSIDE the transform
        # lambda — a two-parameter `lambda t, i=i:` is interpreted by
        # PySpark as an (element, index) lambda, so `i` would be the
        # array-index Column, not the copy number.
        def _prefixed(i: int):
            pfx = F.lit(f"c{i}|")
            return F.array_join(
                F.transform(tokens_col(F.col("text")), lambda t: F.concat(pfx, t)),
                " ",
            ).alias("text")

        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                _prefixed(i),
                "lang",
                "source",
                "n_chars",
            )
            for i in range(n)
        ]
        docs = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        rows = ngram_jaccard_pairs(docs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# {n}x: {dt:.1f}s pairs={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x pairs {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _cosine_probe(ns) -> int:
    """Disjoint-copy ladder for the weighted shingle-cosine near-dup
    pairs: same per-copy token prefixing as --dedup (shingle spaces
    disjoint across copies), so the pair set must scale exactly xN
    (checked) and the inverted-index join should scale ~ linearly —
    its bound is the posting-list products, and prefixed copies add
    lists without widening any."""
    from rdfind_spark.functions.dedup import shingle_cosine_pairs
    from rdfind_spark.functions.text import tokens_col

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    shingle_cosine_pairs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        def _prefixed(i: int):
            pfx = F.lit(f"c{i}|")
            return F.array_join(
                F.transform(tokens_col(F.col("text")), lambda t: F.concat(pfx, t)),
                " ",
            ).alias("text")

        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                _prefixed(i),
                "lang",
                "source",
                "n_chars",
            )
            for i in range(n)
        ]
        docs = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        rows = shingle_cosine_pairs(docs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# {n}x: {dt:.1f}s pairs={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x pairs {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _kcore_probe(ns) -> int:
    """Disjoint-copy ladder for the k-core peel: copies suffix every
    entity id INSIDE the value (``cust:123`` -> ``cust:123|c0``) so
    the entity-edge regex still matches and the copies share no nodes;
    each copy reproduces the base core independently, so node count
    AND the within-core degree sum must scale exactly xN (checked)."""
    from rdfind_spark.functions.graph import k_core

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    k_core(triple_view(spark, "/root/testdata/sf0.001")).write.format(
        "noop"
    ).mode("overwrite").save()

    base = triple_view(spark, sf_dir)
    results = {}
    for n in ns:
        copies = [
            base.select(
                F.concat(F.col("subj"), F.lit(f"|c{i}")).alias("subj"),
                "pred",
                F.concat(F.col("obj"), F.lit(f"|c{i}")).alias("obj"),
            )
            for i in range(n)
        ]
        tri = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        out = k_core(tri)
        chk = out.agg(
            F.count("*").alias("rows"), F.sum("core_degree").alias("s")
        ).collect()[0]
        dt = time.time() - t0
        results[n] = (dt, chk.rows, chk.s)
        print(f"# kcore {n}x: {dt:.1f}s rows={chk.rows} degsum={chk.s}",
              flush=True)
        drop_cached(spark)
    if 1 in results:
        _, r1, s1 = results[1]
        for n, (dt, rows, s) in results.items():
            assert rows == n * r1 and s == n * s1, (n, rows, s)
        print("# output scales exactly proportionally")
    return 0


def _prefix_jaccard_probe(ns) -> int:
    """Disjoint-copy ladder for the PREFIX-FILTERED Jaccard join —
    same per-copy token prefixing as --dedup (shingle spaces disjoint
    across copies), pair set must scale exactly xN (checked).  The
    interesting number vs the --dedup ladder is the slope: the prefix
    join touches only the (1-t) rarest fraction of every posting
    list."""
    from rdfind_spark.functions.dedup import jaccard_pairs_prefix
    from rdfind_spark.functions.text import tokens_col

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    jaccard_pairs_prefix(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        def _prefixed(i: int):
            pfx = F.lit(f"c{i}|")
            return F.array_join(
                F.transform(tokens_col(F.col("text")), lambda t: F.concat(pfx, t)),
                " ",
            ).alias("text")

        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                _prefixed(i),
                "lang",
                "source",
                "n_chars",
            )
            for i in range(n)
        ]
        docs = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        rows = jaccard_pairs_prefix(docs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# prefix-jaccard {n}x: {dt:.1f}s pairs={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x pairs {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _copied_docs(spark, base, n: int):
    """N disjoint copies of the documents table, every token prefixed
    per copy (the --dedup convention: shingle spaces and normalized
    texts disjoint across copies)."""
    from rdfind_spark.functions.text import tokens_col

    def _prefixed(i: int):
        pfx = F.lit(f"c{i}|")
        return F.array_join(
            F.transform(tokens_col(F.col("text")), lambda t: F.concat(pfx, t)),
            " ",
        ).alias("text")

    copies = [
        base.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            _prefixed(i),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(n)
    ]
    return reduce(lambda a, b: a.unionByName(b), copies)


def _funnel_probe(ns) -> int:
    """Disjoint-copy ladder for the sequential dedup funnel.  Exactness
    of the check differs by stage: stage 1 (exact md5) is prefix-stable
    — dup classes replicate per copy — so its three counters must scale
    EXACTLY xN, as must stage 2's docs_in (= stage-1 kept).  Stage 2's
    kept count comes from MinHash-LSH components, whose signatures the
    per-copy prefixes perturb (the documented --dedup LSH caveat: a
    borderline pair may be caught in one copy and legitimately missed
    in another), so it is checked to a 1% band rather than exactly."""
    from rdfind_spark.functions.dedup import dedup_funnel

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    dedup_funnel(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        docs = _copied_docs(spark, base, n)
        t0 = time.time()
        rows = {r.stage: r for r in dedup_funnel(docs).collect()}
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(
            f"# funnel {n}x: {dt:.1f}s "
            f"s1={rows[1].docs_in}/{rows[1].docs_kept} "
            f"s2={rows[2].docs_in}/{rows[2].docs_kept}",
            flush=True,
        )
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            for col in ("docs_in", "docs_kept", "docs_removed"):
                assert getattr(rows[1], col) == n * getattr(r1[1], col), (
                    n, col)
            assert rows[2].docs_in == n * r1[2].docs_in
            want = n * r1[2].docs_kept
            assert abs(rows[2].docs_kept - want) <= max(1, want // 100), (
                f"{n}x stage-2 kept {rows[2].docs_kept} vs ~{want}"
            )
        print("# stage 1 exact xN; stage 2 kept within the 1% LSH band")
    return 0


def _minhash_est_probe(ns) -> int:
    """Disjoint-copy ladder for the MinHash estimator calibration
    table: its row set is the EXACT-Jaccard qualifying pair set
    (prefix-stable), so the row count must scale exactly xN; the
    per-pair signature-agreement values may legitimately differ across
    copies (prefixed shingles hash differently), so only the row count
    is the proportionality check."""
    from rdfind_spark.functions.dedup import minhash_estimate_eval

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    minhash_estimate_eval(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        docs = _copied_docs(spark, base, n)
        t0 = time.time()
        rows = minhash_estimate_eval(docs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# minhash-est {n}x: {dt:.1f}s pairs={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x pairs {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _containment_probe(ns) -> int:
    """Disjoint-copy ladder for the directed containment join: shingle
    spaces disjoint across copies, every within-copy directed pair
    replicates per copy, so the pair count must scale exactly xN
    (containment is an exact integer-ppm measure over prefix-stable
    shingle sets — no LSH wobble)."""
    from rdfind_spark.functions.dedup import containment_pairs

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    containment_pairs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        docs = _copied_docs(spark, base, n)
        t0 = time.time()
        rows = containment_pairs(docs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# containment {n}x: {dt:.1f}s pairs={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x pairs {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _docs_probe(ns, which: str) -> int:
    """Disjoint-copy ladder for the two round-8 document heavies.

    ``spans``: dup_span_census — per-copy token prefixes make every
    L-gram hash space disjoint across copies, so each copy reproduces
    the base's maximal duplicated spans independently and the span set
    must scale exactly xN (checked).  The plan is a sliding-gram
    census + per-doc window merge; both are doc/gram-local, so the
    ladder should be ~ linear.

    ``lmscore``: lm_score_stats — prefixed copies keep bigram TYPE
    tables disjoint, so the result is one row per document and the
    row count must scale exactly xN (checked).  Score VALUES shift
    with N by design (add-one smoothing sees an N-times-larger
    vocabulary), so only cardinality is asserted.  The plan is two
    vocabulary-sized count tables + a per-doc type join — linear in
    corpus size."""
    from rdfind_spark.functions.text import tokens_col

    if which == "spans":
        from rdfind_spark.functions.dedup import dup_span_census as fn
    else:
        from rdfind_spark.functions.corpus_stats import lm_score_stats as fn

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    fn(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    results = {}
    for n in ns:
        def _prefixed(i: int):
            pfx = F.lit(f"c{i}|")
            return F.array_join(
                F.transform(tokens_col(F.col("text")), lambda t: F.concat(pfx, t)),
                " ",
            ).alias("text")

        copies = [
            base.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                _prefixed(i),
                "lang",
                "source",
                "n_chars",
            )
            for i in range(n)
        ]
        docs = reduce(lambda a, b: a.unionByName(b), copies)
        # Time a noop WRITE, not count(): both outputs are one row per
        # document behind a left join against a groupBy-unique right
        # side, so Catalyst's join elimination turns a bare count()
        # into tokenize+filter only (measured: 16x in 1.5s) — the write
        # materializes every column.  The xN assertion then uses a
        # checksum aggregate (count + value sums), which also defeats
        # the elimination.
        t0 = time.time()
        out = fn(docs)
        out.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        if which == "spans":
            chk = out.agg(
                F.count("*").alias("rows"),
                F.sum("n_dup_spans").alias("s1"),
                F.sum("dup_tokens").alias("s2"),
            ).collect()[0]
            sums = (chk.s1, chk.s2)
        else:
            chk = out.agg(
                F.count("*").alias("rows"),
                F.sum(out.columns[1]).alias("s1"),
            ).collect()[0]
            # lm score VALUES shift with N (smoothing sees an N-times
            # vocabulary) — only cardinality is scale-asserted
            sums = None
        rows = chk.rows
        results[n] = (dt, rows, sums)
        print(f"# {which} {n}x: {dt:.1f}s rows={rows} sums={sums}", flush=True)
        drop_cached(spark)
    if 1 in results:
        _, r1, s1 = results[1]
        for n, (dt, rows, sums) in results.items():
            assert rows == n * r1, f"{n}x rows {rows} != {n}*{r1}"
            if sums is not None and s1 is not None:
                expect = tuple(n * v for v in s1)
                assert sums == expect, f"{n}x sums {sums} != {expect}"
        print("# output scales exactly proportionally")
    return 0


def _triangle_probe(ns) -> int:
    """Disjoint-copy ladder for the triangle kernel in isolation: the
    sf0.1 SimHash pair set is computed ONCE (outside the timers — the
    pair miner has its own probe story), then cloned N× at offset doc
    ids and fed to ``pair_triangles``.  Copies share no nodes, so the
    per-node triangle output must scale exactly ×N (checked), and the
    degree-ordered wedge join should scale ≈ linearly — its bound is
    Σ outdeg² over an orientation whose max out-degree is O(sqrt(E))
    PER COMPONENT, and disjoint copies add components without widening
    any.  A super-linear bend would point at the orientation degree
    join or the closing-edge shuffle."""
    from rdfind_spark.functions.dedup import simhash_pairs
    from rdfind_spark.functions.graph import pair_triangles

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    # warm codegen once, untimed
    pair_triangles(
        simhash_pairs(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        )
    ).write.format("noop").mode("overwrite").save()

    # Park the base pair set in a throwaway parquet (NOT a
    # localCheckpoint: the per-step cache cleanup below unpersists
    # every persistent RDD, which would drop the checkpoint blocks
    # mid-ladder).
    import tempfile

    with tempfile.TemporaryDirectory(prefix="triangle_probe_") as tmp:
        simhash_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).select("a_id", "b_id").write.mode("overwrite").parquet(
            f"{tmp}/pairs"
        )
        base = spark.read.parquet(f"{tmp}/pairs")
        print(f"# base pairs: {base.count()}", flush=True)
        results = {}
        for n in ns:
            copies = [
                base.select(
                    (F.col("a_id") + F.lit(i * 10_000_000)).alias("a_id"),
                    (F.col("b_id") + F.lit(i * 10_000_000)).alias("b_id"),
                )
                for i in range(n)
            ]
            edges = reduce(lambda a, b: a.unionByName(b), copies)
            t0 = time.time()
            rows = pair_triangles(edges).count()
            dt = time.time() - t0
            results[n] = (dt, rows)
            print(f"# {n}x: {dt:.1f}s nodes_in_triangles={rows}", flush=True)
            drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == n * r1, f"{n}x nodes {rows} != {n}*{r1}"
        print("# output scales exactly proportionally")
    return 0


def _ann_probe(ns) -> int:
    """Disjoint-copy ladder for the quantized ANN path: N× clones of
    the embeddings table at offset vec_ids, `knn_ivf_pq` end-to-end.
    Clones are EXACT copies on purpose: coarse bucket occupancy, the
    encode input, and the per-query ADC candidate sets all scale ×N
    (the cost path), while every bounded stage stays fixed — codebook
    training still collects ksub seed rows + m×ksub centroid sums per
    Lloyd round, the LUT stays n_queries×m×ksub, the rescore depth
    stays PQ_RESCORE, and the output stays EXACTLY n_queries×k rows
    (checked) because top-k is bounded by construction.  Wall-clock
    should therefore scale ≈ linearly in N; a super-linear bend would
    point at the training scan, the encode, or the ADC join."""
    from rdfind_spark.functions.similarity import knn_ivf_pq

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session()
    # warm codegen once, untimed
    knn_ivf_pq(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ).write.format("noop").mode("overwrite").save()

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    results = {}
    for n in ns:
        copies = [
            base.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(n)
        ]
        embs = reduce(lambda a, b: a.unionByName(b), copies)
        t0 = time.time()
        rows = knn_ivf_pq(embs).count()
        dt = time.time() - t0
        results[n] = (dt, rows)
        print(f"# {n}x: {dt:.1f}s rows={rows}", flush=True)
        drop_cached(spark)
    if 1 in results:
        r1 = results[1][1]
        for n, (dt, rows) in results.items():
            assert rows == r1, f"{n}x rows {rows} != {r1} (top-k is bounded)"
        print("# output row count constant (bounded top-k), as constructed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

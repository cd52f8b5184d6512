"""Command-line entry points mirroring the reference's programs.

The reference is driven by JCommander CLIs (``programs/RDFind.scala:
639-721`` plus the census programs ``CountTriples`` / ``CountConditions``
/ ``CountDistinctValues`` / ``CheckHashCollisions``, SURVEY §2.4
A14-A17).  This module reproduces that surface on Spark::

    python -m rdfind_spark rdfind INPUT... [--support N]
        [--traversal-strategy {0,1,2,3}] [--use-ar] [--no-minimal]
        [--projection spo] [--distinct-triples] [--apply-hash]
        [--asciify] [--prefixes FILE] [--output DIR | --parquet DIR]
    python -m rdfind_spark count-triples INPUT...
    python -m rdfind_spark count-conditions INPUT...
    python -m rdfind_spark count-distinct-values INPUT...
    python -m rdfind_spark check-hash-collisions INPUT...
    python -m rdfind_spark corpus DOCS.parquet --op
        {split,sample,pack,export,contamination,dedup-exact,
         dedup-clusters,quality,quality-filter,redact,span-dedup,mix,
         tfidf,bigrams,pmi,index,percentiles,vocab,dsir,bpe,
         bpe-encode,lm-score,dup-spans,cosine-pairs,audio-stats,
         jaccard-prefix,minhash-calibration,bmp-stats,search,
         containment,feature-hash,gif-stats,png-stats,jpeg-stats,
         url-dedup,hybrid-search}
        (beyond-reference curation)

INPUT is one or more N-Triples/N-Quads paths (glob + ``.gz`` native), or
``tpch:DIR`` to melt the driver's parquet star schema at DIR into
triples (``sources.triples.triple_view``).

Flag parity map (reference ``Parameters`` → here):
  ``--support``             → ``--support`` (default 10)
  ``--traversal-strategy``  → 0 = all-at-once, 1 = small-to-large
                              (always minimal), 2 = approximate-then-
                              verify, 3 = LateBB (all four run the exact
                              all-at-once path, see plans facade);
                              default 1, like the reference
  ``--use-ar``              → ``--use-ar`` (G17 filter)
  ``--projection``          → ``--projection`` (subset of "spo")
  ``--distinct-triples``    → ``--distinct-triples`` (T4)
  ``--apply-hash``          → ``--apply-hash`` (T3 value hashing)
  ``--use-url-abbreviation``→ ``--prefixes FILE`` (T2 via S7 prefix file)
  asciify (``--charset``)   → ``--asciify`` (T1)
  ``--only-read``           → ``--only-read`` (read + count, stop)
  ``--find-only-fcs``       → ``--find-only-fcs`` (frequent conditions only)
  ``--do-only-join``        → ``--do-only-join`` (capture supports, no traversal)
  ``--create-join-histogram``→ ``--create-join-histogram`` (A11)
  ``--ar-output``           → ``--ar-output DIR`` (S9 sink)
  ``--print-plan``          → ``--print-plan`` (physical plan)
  ``--counters``            → ``--counters`` (per-class CIND counts)
  ``--collect-result``      → ``--collect-result`` (S10 driver collect)
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession

from rdfind_spark.session import spark_session


def _build_session(args: argparse.Namespace) -> SparkSession:
    # In local mode the driver JVM IS the executor: Spark's 1g default
    # heap GC-thrashes on real inputs (measured: GCLocker retry
    # warnings at sf0.1 ingest), so ``--driver-memory`` sizes it.  A
    # cluster deployment sizes executors externally and can omit it.
    return spark_session(
        "rdfind-spark",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        driver_memory=getattr(args, "driver_memory", None),
        ui=True,
    )


def _load_triples(
    spark: SparkSession, inputs: list[str], tab_separated: bool = False
) -> DataFrame:
    from rdfind_spark.sources.triples import (
        read_ntriples,
        read_tsv_triples,
        triple_view,
    )

    dfs = []
    text_paths = []
    for path in inputs:
        if path.startswith("tpch:"):
            dfs.append(triple_view(spark, path[len("tpch:") :]))
        else:
            text_paths.append(path)
    if text_paths:
        reader = read_tsv_triples if tab_separated else read_ntriples
        dfs.append(reader(spark, text_paths))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _preprocess(triples: DataFrame, args: argparse.Namespace) -> DataFrame:
    from rdfind_spark.operators import transforms

    if getattr(args, "asciify", False):
        triples = transforms.asciify_triples(triples)
    if getattr(args, "prefixes", None):
        from rdfind_spark.sources.triples import parse_prefixes

        prefixes = [
            (r.prefix, r.url)
            for r in parse_prefixes(triples.sparkSession, args.prefixes).collect()
        ]
        triples = transforms.shorten_urls(triples, prefixes)
    if getattr(args, "apply_hash", False):
        triples = transforms.apply_hash(triples)
    if getattr(args, "distinct_triples", False):
        triples = triples.distinct()
    return triples


def _emit(df: DataFrame, args: argparse.Namespace, pretty=None) -> None:
    from rdfind_spark.sources.sinks import write_parquet, write_text

    if getattr(args, "parquet", None):
        write_parquet(df, args.parquet)
    elif getattr(args, "output", None):
        write_text(pretty(df) if pretty else df, args.output)
    else:
        n = getattr(args, "show", 50)
        df.show(n, truncate=False)


def _cmd_rdfind(args: argparse.Namespace) -> int:
    from rdfind_spark.plans import traversal
    from rdfind_spark.sources.sinks import cind_pretty

    spark = _build_session(args)
    triples = _preprocess(_load_triples(spark, args.input, getattr(args, "tab_separated", False)), args)

    # Short-circuit modes mirroring the reference's partial-plan flags
    # (``programs/RDFind.scala:689-693,717``): each stops the plan at an
    # intermediate product and emits that instead of CINDs.
    if args.only_read:
        print(f"triples read: {triples.count()}")
        return 0
    if args.find_only_fcs:
        from rdfind_spark.operators.census import condition_counts

        _emit(condition_counts(triples, args.support), args)
        return 0
    if args.create_join_histogram:
        from rdfind_spark.operators.captures import capture_candidates
        from rdfind_spark.operators.census import join_line_histogram

        dcap = capture_candidates(triples, args.projection).distinct()
        _emit(join_line_histogram(dcap), args)
        return 0
    if args.do_only_join:
        from rdfind_spark.operators.cind import frequent_capture_supports

        _emit(frequent_capture_supports(triples, 1, args.projection), args)
        return 0

    cinds = traversal(
        triples,
        strategy=args.traversal_strategy,
        min_support=args.support,
        minimal=not args.no_minimal,
        ar_filter=args.use_ar,
        projection=args.projection,
    )
    if args.ar_output:
        from rdfind_spark.operators.rules import association_rules
        from rdfind_spark.sources.sinks import ar_pretty, write_text

        write_text(
            ar_pretty(association_rules(triples, args.support, 1.0)),
            args.ar_output,
        )
    if args.print_plan:
        cinds.explain("formatted")
    if args.counters:
        # Basic statistics à la the reference's accumulator counters
        # (``--counters``, RDFind.scala:719): result-class row counts.
        from rdfind_spark import condition_codes as cc
        from pyspark.sql import functions as F

        by_class = (
            cinds.groupBy(
                F.col("dep_code").isin(list(cc.VALID_UNARY_CODES)).alias("dep_unary"),
                F.col("ref_code").isin(list(cc.VALID_UNARY_CODES)).alias("ref_unary"),
            )
            .count()
            .collect()
        )
        for r in by_class:
            dep = "1" if r.dep_unary else "2"
            ref = "1" if r.ref_unary else "2"
            print(f"# cinds {dep}/{ref}: {r['count']}", file=sys.stderr)
    if args.collect_result:
        from rdfind_spark.sources.sinks import collect_rows

        # --collect-result prints to the driver but must not swallow an
        # explicitly requested file sink (--output/--parquet).
        if getattr(args, "parquet", None) or getattr(args, "output", None):
            _emit(cinds, args, pretty=cind_pretty)
        for row in collect_rows(cind_pretty(cinds)):
            print(row[0])
        return 0
    _emit(cinds, args, pretty=cind_pretty)
    return 0


def _cmd_rules(args: argparse.Namespace) -> int:
    """Mine unary⇒unary association rules (the reference's AR subplan +
    S9 sink, ``plan/FrequentConditionPlanner.scala:130-194``)."""
    from rdfind_spark.operators.rules import association_rules
    from rdfind_spark.sources.sinks import ar_pretty

    spark = _build_session(args)
    triples = _preprocess(
        _load_triples(spark, args.input, getattr(args, "tab_separated", False)), args
    )
    rules = association_rules(triples, args.support, args.min_confidence)
    _emit(rules, args, pretty=ar_pretty)
    return 0


_CORPUS_OP_NAMES = (
    "split",
    "sample",
    "pack",
    "export",
    "contamination",
    "dedup-exact",
    "dedup-clusters",
    "quality",
    "quality-filter",
    "redact",
    "span-dedup",
    "mix",
    "tfidf",
    "bigrams",
    "pmi",
    "index",
    "percentiles",
    "vocab",
    "dsir",
    "bpe",
    "bpe-encode",
    "lm-score",
    "dup-spans",
    "cosine-pairs",
    "audio-stats",
    "jaccard-prefix",
    "minhash-calibration",
    "bmp-stats",
    "search",
    "containment",
    "feature-hash",
    "gif-stats",
    "png-stats",
    "jpeg-stats",
    "url-dedup",
    "hybrid-search",
)


def _cmd_corpus(args: argparse.Namespace) -> int:
    """Corpus-curation surface (beyond-reference, SURVEY north star):
    run one curation op over a documents parquet and emit it through
    the standard sinks."""
    from rdfind_spark.functions import (
        corpus_stats,
        dedup,
        multimodal,
        sampling,
        text,
    )

    ops = {
        "split": lambda d: sampling.train_split(d),
        "sample": lambda d: sampling.stratified_sample(d, args.k),
        "pack": lambda d: sampling.pack_sequences(d, args.seq_len),
        "export": lambda d: sampling.export_train_corpus(d),
        "contamination": lambda d: sampling.contamination_check(d),
        "dedup-exact": lambda d: dedup.exact_dedup_map(d),
        "dedup-clusters": lambda d: dedup.dedup_clusters(d),
        "quality": lambda d: text.quality_scores(d),
        "quality-filter": lambda d: text.quality_filter(d),
        "redact": lambda d: text.redact_text(d),
        "span-dedup": lambda d: sampling.span_dedup(d),
        "mix": lambda d: sampling.mix_sources(d),
        "tfidf": lambda d: text.tfidf_keywords(d),
        "bigrams": lambda d: corpus_stats.bigram_counts(d),
        "pmi": lambda d: corpus_stats.pmi_bigrams(d),
        "index": lambda d: corpus_stats.inverted_index(d),
        "percentiles": lambda d: corpus_stats.length_percentiles(d),
        "vocab": lambda d: corpus_stats.vocab_coverage(d),
        "dsir": lambda d: sampling.dsir_weights(d),
        "bpe": lambda d: corpus_stats.bpe_vocab(d),
        "bpe-encode": lambda d: corpus_stats.bpe_encode_stats(d),
        "lm-score": lambda d: corpus_stats.lm_score_stats(d),
        "dup-spans": lambda d: dedup.dup_span_census(d),
        "cosine-pairs": lambda d: dedup.shingle_cosine_pairs(d),
        "audio-stats": lambda d: multimodal.audio_clip_stats(d),
        "jaccard-prefix": lambda d: dedup.jaccard_pairs_prefix(d),
        "minhash-calibration": lambda d: dedup.minhash_estimate_eval(d),
        "bmp-stats": lambda d: multimodal.bmp_image_stats(d),
        "search": lambda d: corpus_stats.keyword_search(d),
        "containment": lambda d: dedup.containment_pairs(d),
        "feature-hash": lambda d: text.feature_hashing(d),
        "gif-stats": lambda d: multimodal.gif_image_stats(d),
        "png-stats": lambda d: multimodal.png_image_stats(d),
        "jpeg-stats": lambda d: multimodal.jpeg_image_stats(d),
        "url-dedup": lambda d: dedup.url_dedup(d),
        "hybrid-search": lambda d: corpus_stats.hybrid_rrf_search(d),
    }
    spark = _build_session(args)
    docs = spark.read.parquet(*args.input)
    _emit(ops[args.op](docs), args)
    return 0


_GRAPH_OP_NAMES = ("degrees", "components", "pagerank", "kcore")


def _cmd_graph(args: argparse.Namespace) -> int:
    """Entity-graph analytics over ingested triples — same front door
    as ``rdfind`` (N-Triples/TSV/gzip/glob or ``tpch:DIR``), so every
    graph program runs on the reference's own input format (posture
    parity: the reference exposes each program on the command line,
    ``programs/*.scala``)."""
    from rdfind_spark.functions import graph

    # --max-rounds is a convergence bound, so it only applies to the
    # iterate-to-fixed-point ops (kcore peels, components label
    # propagation).  pagerank runs a FIXED iteration count (its result
    # is defined by the recurrence depth, not a convergence test) and
    # degrees is a single aggregation — accepting the flag there would
    # silently do nothing, so reject it loudly (and before any session
    # spin-up) instead.
    if args.max_rounds is not None and args.op in ("degrees", "pagerank"):
        raise SystemExit(
            f"--max-rounds does not apply to --op {args.op}: it bounds "
            "fixed-point iteration (kcore/components only); pagerank "
            "depth is pinned by the oracle recurrence"
        )
    spark = _build_session(args)
    triples = _load_triples(
        spark, args.input, getattr(args, "tab_separated", False)
    )
    if args.op == "degrees":
        out = graph.degree_distribution(triples)
    elif args.op == "components":
        out = graph.graph_components(
            triples,
            max_iters=(
                args.max_rounds
                if args.max_rounds is not None
                else graph.COMPONENTS_MAX_ROUNDS
            ),
        )
    elif args.op == "pagerank":
        out = graph.pagerank(triples)
    else:
        out = graph.k_core(
            triples,
            k=args.k,
            max_rounds=(
                args.max_rounds
                if args.max_rounds is not None
                else graph.KCORE_MAX_ROUNDS
            ),
            strategy=args.strategy,
        )
    _emit(out, args)
    return 0


def _registry_family_cmd(prefix: str):
    """Expose a registered-query family (warehouse_*, stream_*) as a
    CLI subcommand over a parquet table dir: ``--op`` dashes map to the
    registry key's underscores, so the CLI surface and the driver
    board stay one list."""

    def cmd(args: argparse.Namespace) -> int:
        from rdfind_spark.queries import SPARK_QUERIES

        spark = _build_session(args)
        key = f"{prefix}_{args.op.replace('-', '_')}"
        _emit(SPARK_QUERIES[key](spark, args.sf_dir), args)
        return 0

    return cmd


def _registry_family_ops(prefix: str) -> tuple:
    from rdfind_spark.queries import SPARK_QUERIES

    pre = f"{prefix}_"
    return tuple(
        sorted(
            k[len(pre) :].replace("_", "-")
            for k in SPARK_QUERIES
            if k.startswith(pre)
        )
    )


def _cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over the registered table/triple/capture views."""
    from rdfind_spark.sql import run_sql

    spark = _build_session(args)
    _emit(run_sql(spark, args.sf_dir, args.query), args)
    return 0


def _cmd_count_triples(args: argparse.Namespace) -> int:
    from rdfind_spark.operators.census import count_triples

    spark = _build_session(args)
    _emit(count_triples(_load_triples(spark, args.input, getattr(args, "tab_separated", False))), args)
    return 0


def _cmd_count_conditions(args: argparse.Namespace) -> int:
    from rdfind_spark.operators.census import condition_histogram

    spark = _build_session(args)
    _emit(condition_histogram(_load_triples(spark, args.input, getattr(args, "tab_separated", False))), args)
    return 0


def _cmd_count_distinct_values(args: argparse.Namespace) -> int:
    from rdfind_spark.operators.census import count_distinct_values

    spark = _build_session(args)
    _emit(count_distinct_values(_load_triples(spark, args.input, getattr(args, "tab_separated", False))), args)
    return 0


def _cmd_check_hash_collisions(args: argparse.Namespace) -> int:
    from rdfind_spark.operators.transforms import hash_collisions

    spark = _build_session(args)
    _emit(hash_collisions(_load_triples(spark, args.input, getattr(args, "tab_separated", False))), args)
    return 0


def make_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="rdfind_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    def common(p: argparse.ArgumentParser) -> None:
        p.add_argument("input", nargs="+", help="N-Triples path(s) or tpch:DIR")
        p.add_argument("--master", default="local[*]")
        p.add_argument("--shuffle-partitions", type=int, default=32)
        p.add_argument("--driver-memory", default=None,
                       help="spark.driver.memory (local mode: the one "
                            "heap that matters)")
        p.add_argument("--output", help="write results as text to DIR")
        p.add_argument("--parquet", help="write results as parquet to DIR")
        p.add_argument("--show", type=int, default=50)
        p.add_argument("--tab-separated", action="store_true",
                       help="inputs are subj\\tpred\\tobj lines")

    p = sub.add_parser("rdfind", help="CIND discovery (programs/RDFind.scala)")
    common(p)
    p.add_argument("--support", type=int, default=10)
    p.add_argument("--traversal-strategy", type=int, choices=(0, 1, 2, 3),
                   default=1,
                   help="0=all-at-once, 1=small-to-large (always "
                        "minimal), 2=approximate-then-verify, 3=LateBB "
                        "(all run the exact all-at-once path of 0; see "
                        "rdfind_spark.plans)")
    p.add_argument("--use-ar", action="store_true")
    p.add_argument("--no-minimal", action="store_true")
    p.add_argument("--projection", default=None, help='subset of "spo"')
    p.add_argument("--distinct-triples", action="store_true")
    p.add_argument("--apply-hash", action="store_true")
    p.add_argument("--asciify", action="store_true")
    p.add_argument("--prefixes", help="@prefix file for URL shortening")
    p.add_argument("--only-read", action="store_true",
                   help="read + count the input, then stop (RDFind --only-read)")
    p.add_argument("--find-only-fcs", action="store_true",
                   help="emit frequent conditions only (RDFind --find-only-fcs)")
    p.add_argument("--do-only-join", action="store_true",
                   help="stop after the capture join; emit capture supports "
                        "(RDFind --do-only-join)")
    p.add_argument("--create-join-histogram", action="store_true",
                   help="emit the join-line size histogram (A11)")
    p.add_argument("--ar-output", help="also write association rules to DIR")
    p.add_argument("--print-plan", action="store_true",
                   help="print the physical plan (RDFind --print-plan)")
    p.add_argument("--counters", action="store_true",
                   help="print per-class CIND counts (RDFind --counters)")
    p.add_argument("--collect-result", action="store_true",
                   help="collect results to the driver and print (S10)")
    p.set_defaults(fn=_cmd_rdfind)

    p = sub.add_parser("rules", help="association-rule mining (J2/J3 + S9)")
    common(p)
    p.add_argument("--support", type=int, default=10)
    p.add_argument("--min-confidence", type=float, default=1.0)
    p.set_defaults(fn=_cmd_rules)

    p = sub.add_parser(
        "corpus", help="training-data curation ops over a documents parquet"
    )
    common(p)
    p.add_argument("--op", required=True, choices=_CORPUS_OP_NAMES)
    p.add_argument("--k", type=int, default=20, help="sample size per source")
    p.add_argument("--seq-len", type=int, default=2048,
                   help="tokens per packed sequence")
    p.set_defaults(fn=_cmd_corpus)

    p = sub.add_parser(
        "graph", help="entity-graph analytics over ingested triples"
    )
    common(p)
    p.add_argument("--op", required=True, choices=_GRAPH_OP_NAMES)
    p.add_argument("--k", type=int, default=4, help="k-core threshold")
    p.add_argument("--strategy", default="auto",
                   choices=("auto", "restrict", "decrement"),
                   help="k-core peel strategy (auto = survivor-ratio "
                        "criterion, see functions/graph.py)")
    p.add_argument("--max-rounds", type=int, default=None,
                   help="fixed-point iteration bound (loud raise past "
                        "it); kcore/components only — rejected for "
                        "pagerank/degrees, which have no convergence "
                        "loop (defaults: kcore 14, components 12)")
    p.set_defaults(fn=_cmd_graph)

    for family, helptext in (
        ("warehouse", "TPC-H-shaped analytics over a parquet table dir"),
        ("stream", "Structured Streaming ops over a parquet table dir "
                   "(AvailableNow micro-batch)"),
    ):
        p = sub.add_parser(family, help=helptext)
        p.add_argument("sf_dir", help="parquet table dir")
        p.add_argument("--op", required=True,
                       choices=_registry_family_ops(family))
        p.add_argument("--master", default="local[*]")
        p.add_argument("--shuffle-partitions", type=int, default=32)
        p.add_argument("--driver-memory", default=None)
        p.add_argument("--output", help="write results as text to DIR")
        p.add_argument("--parquet", help="write results as parquet to DIR")
        p.add_argument("--show", type=int, default=50)
        p.set_defaults(fn=_registry_family_cmd(family))

    p = sub.add_parser("sql", help="ad-hoc Spark SQL over the registered views")
    p.add_argument("sf_dir", help="parquet table dir (tables + triples/captures views)")
    p.add_argument("query", help="SQL to run")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--output", help="write results as text to DIR")
    p.add_argument("--parquet", help="write results as parquet to DIR")
    p.add_argument("--show", type=int, default=50)
    p.set_defaults(fn=_cmd_sql)

    for name, fn in (
        ("count-triples", _cmd_count_triples),
        ("count-conditions", _cmd_count_conditions),
        ("count-distinct-values", _cmd_count_distinct_values),
        ("check-hash-collisions", _cmd_check_hash_collisions),
    ):
        p = sub.add_parser(name)
        common(p)
        p.set_defaults(fn=fn)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = make_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

"""CLI parity surface (programs/RDFind.scala + census programs) and the
--projection capture restriction."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from rdfind_spark import condition_codes as cc
from rdfind_spark.cli import main
from rdfind_spark.operators.captures import capture_candidates
from rdfind_spark.operators.cind import discover_cinds

from tests.test_cind_engine import TINY, brute_capture_sets

NT = """# a comment line
<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .
<http://ex.org/a> <http://ex.org/p> "lit"@en .
_:blank <http://ex.org/q> "42"^^<http://www.w3.org/2001/XMLSchema#int> .
"""


def _write_tiny_nt(tmp_path):
    nt = tmp_path / "tiny.nt"
    nt.write_text(
        "\n".join(f"<{s}> <{p}> <{o}> ." for s, p, o in TINY) + "\n"
    )
    return str(nt)


def test_projection_restricts_capture_codes(spark):
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    codes = {
        r.code for r in capture_candidates(df, "s").select("code").distinct().collect()
    }
    assert codes == {c for c in cc.VALID_CODES if cc.secondary_condition(c) == cc.SUBJECT}
    all_codes = {
        r.code for r in capture_candidates(df).select("code").distinct().collect()
    }
    assert all_codes == set(cc.VALID_CODES)


def test_projection_threads_through_discover(spark):
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    got = discover_cinds(df, min_support=2, projection="s")
    rows = got.collect()
    assert rows, "subject-projected CINDs expected on TINY"
    ok = {c for c in cc.VALID_CODES if cc.secondary_condition(c) == cc.SUBJECT}
    assert all(r.dep_code in ok and r.ref_code in ok for r in rows)


def test_cli_rdfind_parquet_roundtrip(spark, tmp_path):
    nt = _write_tiny_nt(tmp_path)
    out = str(tmp_path / "cinds")
    assert (
        main(
            [
                "rdfind",
                nt,
                "--support",
                "2",
                "--traversal-strategy",
                "0",
                "--parquet",
                out,
            ]
        )
        == 0
    )
    got = {
        (r.dep_code, r.dep_v1, r.dep_v2, r.ref_code, r.ref_v1, r.ref_v2, r.support)
        for r in spark.read.parquet(out).collect()
    }
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    expected = {
        tuple(r) for r in discover_cinds(df, min_support=2, minimal=True).collect()
    }
    assert got == expected
    assert got


def test_cli_text_output_pretty(spark, tmp_path):
    nt = _write_tiny_nt(tmp_path)
    out = str(tmp_path / "txt")
    assert main(["rdfind", nt, "--support", "2", "--output", out]) == 0
    lines = [r.value for r in spark.read.text(out).collect()]
    assert lines and all(" < " in ln and "support=" in ln for ln in lines)


def test_cli_census_commands(tmp_path, capsys, spark):
    nt = tmp_path / "mini.nt"
    nt.write_text(NT)
    for cmd in (
        "count-triples",
        "count-conditions",
        "count-distinct-values",
        "check-hash-collisions",
    ):
        assert main([cmd, str(nt)]) == 0


def test_read_ntriples_gz_and_comments(spark, tmp_path):
    gz = tmp_path / "mini.nt.gz"
    with gzip.open(gz, "wt") as f:
        f.write(NT)
    from rdfind_spark.sources.triples import read_ntriples

    rows = read_ntriples(spark, str(gz)).collect()
    assert len(rows) == 3
    objs = {r.obj for r in rows}
    assert "lit" in objs and "42" in objs
    assert {r.subj for r in rows} == {"http://ex.org/a", "_:blank"}


def test_tsv_triples_and_estimate(spark, tmp_path):
    from rdfind_spark.sources.triples import estimate_triple_count, read_tsv_triples

    tsv = tmp_path / "mini.tsv"
    tsv.write_text("# c\na\tp\tb\nx\tq\ty\n")
    rows = read_tsv_triples(spark, str(tsv)).collect()
    assert {(r.subj, r.pred, r.obj) for r in rows} == {("a", "p", "b"), ("x", "q", "y")}
    est = estimate_triple_count(spark, str(tsv))
    assert 1 <= est <= 10


def test_cli_tab_separated(spark, tmp_path):
    tsv = tmp_path / "t.tsv"
    tsv.write_text("\n".join(f"{s}\t{p}\t{o}" for s, p, o in TINY) + "\n")
    out = str(tmp_path / "cinds_tsv")
    assert (
        main(
            ["rdfind", str(tsv), "--tab-separated", "--support", "2",
             "--traversal-strategy", "0", "--parquet", out]
        )
        == 0
    )
    assert spark.read.parquet(out).count() > 0


def test_cli_rules_output(spark, tmp_path):
    triples = [(f"a{i}", "p1", "x") for i in range(5)] + [
        (f"a{i}", "p2", f"y{i}") for i in range(5)
    ]
    tsv = tmp_path / "r.tsv"
    tsv.write_text("\n".join("\t".join(t) for t in triples) + "\n")
    out = str(tmp_path / "rules")
    assert (
        main(
            ["rules", str(tsv), "--tab-separated", "--support", "2", "--output", out]
        )
        == 0
    )
    lines = [r.value for r in spark.read.text(out).collect()]
    assert lines and all("=>" in ln and "confidence=" in ln for ln in lines)
    assert any("p=p1 => o=x" in ln for ln in lines)


def test_cli_partial_plan_flags(spark, tmp_path, capsys):
    """The reference's partial-plan modes (--only-read, --find-only-fcs,
    --do-only-join, --create-join-histogram) stop at intermediate
    products (programs/RDFind.scala:689-693,717)."""
    nt = _write_tiny_nt(tmp_path)

    assert main(["rdfind", nt, "--only-read"]) == 0
    assert "triples read: " in capsys.readouterr().out

    out = str(tmp_path / "fcs")
    assert main(["rdfind", nt, "--support", "2", "--find-only-fcs",
                 "--parquet", out]) == 0
    fcs = spark.read.parquet(out)
    assert set(fcs.columns) >= {"code", "v1", "v2"}
    assert fcs.count() > 0

    out2 = str(tmp_path / "supports")
    assert main(["rdfind", nt, "--do-only-join", "--parquet", out2]) == 0
    sup = spark.read.parquet(out2).select("code", "v1", "v2", "support")
    assert sorted(tuple(r) for r in sup.collect()) == sorted(
        (*capture, len(values)) for capture, values in brute_capture_sets(TINY).items()
    )

    out3 = str(tmp_path / "hist")
    assert main(["rdfind", nt, "--create-join-histogram", "--parquet", out3]) == 0
    assert spark.read.parquet(out3).count() > 0


def test_cli_counters_collect_and_ar_output(spark, tmp_path, capsys):
    nt = _write_tiny_nt(tmp_path)
    ar_dir = str(tmp_path / "ars")
    assert (
        main(
            ["rdfind", nt, "--support", "2", "--counters",
             "--collect-result", "--print-plan", "--ar-output", ar_dir]
        )
        == 0
    )
    captured = capsys.readouterr()
    assert "# cinds " in captured.err
    assert " < " in captured.out  # collected pretty rows on stdout
    ar_lines = [r.value for r in spark.read.text(ar_dir).collect()]
    assert ar_lines and all("=>" in ln or "⇒" in ln for ln in ar_lines)


def test_cli_strategy2_and_plans_facade(spark, tmp_path):
    nt = _write_tiny_nt(tmp_path)
    out = str(tmp_path / "s2")
    assert main(["rdfind", nt, "--support", "2", "--traversal-strategy", "2",
                 "--parquet", out]) == 0
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    df = spark.createDataFrame(TINY, ["subj", "pred", "obj"])
    expected = {tuple(r) for r in discover_cinds(df, min_support=2).collect()}
    assert got == expected and got

    from rdfind_spark.plans import traversal

    for s in (0, 1, 2, 3):
        assert {tuple(r) for r in traversal(df, s, min_support=2).collect()} == expected


def test_cli_corpus_ops(spark, tmp_path):
    """The corpus subcommand runs each curation op over a documents
    parquet and writes through the standard sinks."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": list(range(40)),
            "text": [
                f"word{i} alpha beta gamma delta epsilon zeta token{i} "
                f"extra{i % 7} filler{i % 5} more{i % 3} tail{i}"
                for i in range(40)
            ],
            "source": [f"src{i % 2}" for i in range(40)],
            "lang": ["en" if i % 2 == 0 else "de" for i in range(40)],
        }
    )
    src = tmp_path / "docs.parquet"
    docs.to_parquet(str(src), index=False)
    out = tmp_path / "out"
    assert main([
        "corpus", str(src), "--op", "pack", "--seq-len", "64",
        "--parquet", str(out / "pack"), "--master", "local[4]",
    ]) == 0
    packed = spark.read.parquet(str(out / "pack"))
    assert packed.count() == 40
    assert set(packed.columns) == {
        "doc_id", "source", "n_tokens", "start_offset", "seq_id"
    }
    assert main([
        "corpus", str(src), "--op", "split",
        "--parquet", str(out / "split"), "--master", "local[4]",
    ]) == 0
    split = spark.read.parquet(str(out / "split"))
    assert split.count() == 40
    assert {r.split for r in split.collect()} <= {"train", "val", "test"}
    assert main([
        "corpus", str(src), "--op", "sample", "--k", "3",
        "--parquet", str(out / "sample"), "--master", "local[4]",
    ]) == 0
    sample = spark.read.parquet(str(out / "sample"))
    assert sample.groupBy("source").count().agg(
        F.max("count")
    ).collect()[0][0] <= 3
    assert main([
        "corpus", str(src), "--op", "dsir",
        "--parquet", str(out / "dsir"), "--master", "local[4]",
    ]) == 0
    dsir = spark.read.parquet(str(out / "dsir"))
    assert dsir.count() == 40
    assert {f.name for f in dsir.schema.fields} == {
        "doc_id", "lang", "source", "n_tokens", "dsir_score"
    }
    assert dsir.filter(F.col("dsir_score") <= 0).count() == 0
    assert main([
        "corpus", str(src), "--op", "bpe",
        "--parquet", str(out / "bpe"), "--master", "local[4]",
    ]) == 0
    bpe = spark.read.parquet(str(out / "bpe"))
    assert set(bpe.columns) == {
        "merge_rank", "left_sym", "right_sym", "pair_count"
    }
    assert 0 < bpe.count() <= 8


def test_sql_surface_views_and_cli(spark, sf_dir, tmp_path, capsys):
    from rdfind_spark.cli import main
    from rdfind_spark.sql import run_sql

    df = run_sql(
        spark, sf_dir,
        "SELECT pred, COUNT(*) AS n FROM triples GROUP BY pred ORDER BY pred",
    )
    preds = {r.pred: r.n for r in df.collect()}
    assert "inRegion" in preds and preds["inRegion"] > 0
    # captures view exists and is distinct
    cap = run_sql(spark, sf_dir, "SELECT COUNT(*) AS n FROM captures").collect()[0]
    assert cap.n > 0
    # CLI: run a query, write parquet
    out = str(tmp_path / "sqlout")
    assert main(
        ["sql", sf_dir, "SELECT COUNT(*) AS n FROM region", "--parquet", out]
    ) == 0
    assert spark.read.parquet(out).collect()[0].n > 0


def test_cli_graph_warehouse_stream_families(spark, sf_dir, tmp_path):
    """Round-9 verdict task 3: the graph/warehouse/streaming families
    get the same CLI posture as the reference's programs/*.scala mains.
    graph runs over the triple front door (tpch: or N-Triples), the
    warehouse/stream families map --op straight onto the registry so
    the CLI surface and the driver board stay one list."""
    from rdfind_spark.cli import main

    out = tmp_path / "fam"
    assert main([
        "graph", f"tpch:{sf_dir}", "--op", "kcore", "--k", "4",
        "--strategy", "restrict", "--parquet", str(out / "kcore"),
        "--master", "local[4]",
    ]) == 0
    kc = spark.read.parquet(str(out / "kcore"))
    assert set(kc.columns) == {"node", "core_degree"}
    n_restrict = kc.count()
    assert n_restrict > 0
    assert kc.agg(F.min("core_degree")).collect()[0][0] >= 4
    # the decrement strategy reaches the same core through the CLI
    assert main([
        "graph", f"tpch:{sf_dir}", "--op", "kcore", "--strategy",
        "decrement", "--parquet", str(out / "kcore_d"),
        "--master", "local[4]",
    ]) == 0
    assert spark.read.parquet(str(out / "kcore_d")).count() == n_restrict
    assert main([
        "graph", f"tpch:{sf_dir}", "--op", "degrees",
        "--parquet", str(out / "deg"), "--master", "local[4]",
    ]) == 0
    assert spark.read.parquet(str(out / "deg")).count() > 0
    # round-10 advice: --max-rounds only bounds the fixed-point ops;
    # passing it with pagerank/degrees must be a loud SystemExit (no
    # silent no-op), raised before any session spin-up
    import pytest as _pytest

    for op in ("pagerank", "degrees"):
        with _pytest.raises(SystemExit, match="max-rounds"):
            main([
                "graph", f"tpch:{sf_dir}", "--op", op,
                "--max-rounds", "5", "--master", "local[4]",
            ])
    assert main([
        "warehouse", sf_dir, "--op", "waiting-suppliers",
        "--parquet", str(out / "wait"), "--master", "local[4]",
    ]) == 0
    wait = spark.read.parquet(str(out / "wait"))
    assert set(wait.columns) == {"s_name", "numwait"}
    assert main([
        "warehouse", sf_dir, "--op", "supplier-census",
        "--parquet", str(out / "census"), "--master", "local[4]",
    ]) == 0
    assert spark.read.parquet(str(out / "census")).count() > 0
    assert main([
        "stream", sf_dir, "--op", "session-windows",
        "--parquet", str(out / "sw"), "--master", "local[4]",
    ]) == 0
    sw = spark.read.parquet(str(out / "sw"))
    assert set(sw.columns) == {
        "user_id", "session_start", "session_end", "n_events"
    }
    assert sw.count() > 0


def test_cli_corpus_codec_ops(spark, tmp_path):
    """The round-10 codec/featurizer corpus ops are reachable through
    the CLI and produce their documented schemas."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": [f"alpha beta w{i}" for i in range(6)],
            "source": ["s"] * 6,
            "lang": ["en"] * 6,
            "n_chars": [len(f"alpha beta w{i}") for i in range(6)],
        }
    )
    src = tmp_path / "docs.parquet"
    docs.to_parquet(str(src), index=False)
    out = tmp_path / "codec"
    for op, cols in (
        ("gif-stats", {"doc_id", "width", "height", "n_colors",
                       "sum_r", "sum_g", "sum_b", "row_moment"}),
        ("png-stats", {"doc_id", "width", "height", "bit_depth",
                       "color_type", "sum_r", "sum_g", "sum_b",
                       "row_moment"}),
        ("feature-hash", {"doc_id", "feature_id", "weight"}),
        # round-11 additions
        ("jpeg-stats", {"doc_id", "width", "height", "n_components",
                        "sum_r", "sum_g", "sum_b", "row_moment"}),
        ("url-dedup", {"canonical_url", "kept_doc_id", "kept_n_chars",
                       "n_dups"}),
        ("hybrid-search", {"doc_id", "rrf_score", "kw_rank", "lm_rank"}),
    ):
        assert main([
            "corpus", str(src), "--op", op,
            "--parquet", str(out / op), "--master", "local[4]",
        ]) == 0
        got = spark.read.parquet(str(out / op))
        assert set(got.columns) == cols, op
        assert got.count() > 0, op

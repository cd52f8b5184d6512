#!/usr/bin/env python
"""End-to-end CLI run through the text-ingest front door at sf-scale
(round-8 verdict, What's missing #1): melt the sf tables to gzipped
N-Triples part files, run the ACTUAL user command

    python -m rdfind_spark rdfind '<dir>/*.nt.gz' --support 10 --output OUT

(glob S3 + gzip S2 + comment filter S5 + parser S6 + pretty sink S8 +
the full traversal), then run the same command over the parquet melt
(``tpch:DIR``) and strict-compare the two pretty-printed CIND sets.
The parquet path is the one the driver oracle-matches every round
(``cind_minimal``), so text==parquet transitively oracle-matches the
text path.

Usage: python scripts/text_ingest_e2e.py [sf_dir] [--support N]
                                         [--parts N] [--keep]

Writes its work dir under the repo (.text_e2e/), removed on success
unless --keep.  Prints per-phase wall-clocks; record them in
COVERAGE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _read_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as f:
                lines.extend(ln.rstrip("\n") for ln in f if ln.strip())
    return sorted(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--support", type=int, default=10)
    ap.add_argument("--parts", type=int, default=8)
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    work = os.path.join(REPO, ".text_e2e")
    shutil.rmtree(work, ignore_errors=True)
    dump = os.path.join(work, "dump")
    out_text = os.path.join(work, "cinds_text")
    out_parquet = os.path.join(work, "cinds_parquet")

    # Phase 1: melt -> .nt.gz part files (one short Spark session; the
    # CLI runs get their own sessions, like a real user invocation).
    t0 = time.time()
    from rdfind_spark.session import spark_session

    spark = spark_session("text-e2e-export", driver_memory=None)
    master = spark.sparkContext.master
    from rdfind_spark.sources.sinks import write_ntriples
    from rdfind_spark.sources.triples import triple_view

    melt = triple_view(spark, args.sf_dir)
    n_triples = melt.count()
    write_ntriples(melt, dump, n_files=args.parts)
    spark.stop()
    i = 0
    for name in sorted(os.listdir(dump)):
        if name.startswith("part-") and name.endswith(".gz"):
            os.rename(
                os.path.join(dump, name),
                os.path.join(dump, f"part-{i:04d}.nt.gz"),
            )
            i += 1
    sz = sum(
        os.path.getsize(os.path.join(dump, n))
        for n in os.listdir(dump)
        if n.endswith(".nt.gz")
    )
    t_export = time.time() - t0
    print(
        f"# export: {n_triples} triples -> {i} .nt.gz files "
        f"({sz / 1e6:.1f} MB gz) in {t_export:.1f}s"
    )

    def run_cli(inp: str, out: str) -> float:
        t = time.time()
        subprocess.run(
            [
                sys.executable, "-m", "rdfind_spark", "rdfind", inp,
                "--support", str(args.support),
                "--master", master,
                "--driver-memory", "48g",
                "--output", out,
            ],
            cwd=REPO,
            check=True,
        )
        return time.time() - t

    # Phase 2: the reference's actual front door (quoted glob).
    t_text = run_cli(os.path.join(dump, "*.nt.gz"), out_text)
    print(f"# cli text path ({args.parts} x .nt.gz glob): {t_text:.1f}s")

    # Phase 3: the parquet melt path (driver-oracle-matched each round).
    t_parquet = run_cli(f"tpch:{args.sf_dir}", out_parquet)
    print(f"# cli parquet path (tpch:): {t_parquet:.1f}s")

    a = _read_lines(out_text)
    b = _read_lines(out_parquet)
    if a != b:
        only_a = set(a) - set(b)
        only_b = set(b) - set(a)
        print(f"MISMATCH: text-only={len(only_a)} parquet-only={len(only_b)}")
        for ln in list(only_a)[:5]:
            print("  text-only:", ln)
        for ln in list(only_b)[:5]:
            print("  parquet-only:", ln)
        return 1
    print(
        f"OK: text-path CINDs == parquet-path CINDs "
        f"({len(a)} pretty lines, support>={args.support}, sf_dir={args.sf_dir})"
    )
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

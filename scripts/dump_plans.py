#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for named queries to plans/<tag>/.

Usage: python scripts/dump_plans.py TAG [sf_dir] [query ...]

Writes ``plans/<TAG>/<query>_<suffix>.txt`` for each query (suffix via
$PLAN_SUFFIX, default ``before``).  Eager queries (the CIND engines run
census/collect jobs while composing the plan) execute those jobs, so
dumping a heavy query costs a fraction of its bench time.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as entry
    from rdfind_spark.session import drop_cached, spark_session

    tag = sys.argv[1]
    args = sys.argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = spark_session("rdfind-spark-dump-plans")

    from rdfind_spark import util

    queries = entry.queries()
    names = args or list(queries)
    for name in names:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"plan:{name}")
        # arm the introspection hook: eagerly-executed passes (the
        # pinned minimality pass) checkpoint their output, collapsing
        # the final explain to a scan — they record their own plan here
        util.PLAN_CAPTURE = {}
        try:
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR composing plan: {exc}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        for label, captured in util.PLAN_CAPTURE.items():
            cpath = os.path.join(outdir, f"{name}_{label}_{suffix}.txt")
            with open(cpath, "w") as fh:
                fh.write(captured)
            print(f"wrote {cpath} ({len(captured)} chars)")
        util.PLAN_CAPTURE = None
        drop_cached(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

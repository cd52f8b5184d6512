#!/usr/bin/env python
"""One side of a controlled A/B benchmark between two code snapshots.

Usage: python scripts/ab_bench.py REPO_PATH_OR_GIT_REF [query ...]

The first argument is either a directory holding an ``__spark_entry__``
or a git ref (commit SHA, branch) of this repo — a ref is extracted
once with ``git archive`` into ``$TMPDIR/ab_snapshot_<sha>`` and reused
across invocations, so historical snapshots never need to be committed
into the tree.

Runs the named queries from that snapshot's ``__spark_entry__`` in the
session that bench.py starts (``rdfind_spark.session.spark_session`` of
THIS tree, loaded by file path, so every side is measured in the same
profile) with bench.py's cache drop between queries.  Each invocation
is a fresh process that first runs the same queries at sf0.001,
untimed, so both sides pay JIT equally, then prints one JSON line
``{"repo": ..., "queries": {name: sec}}``.

Drive it alternating sides with >= 3 repeats per side (this VM's
run-to-run variance is ±40%), e.g.:

    for i in 1 2 3; do
      python scripts/ab_bench.py <parent-sha> q1 q2 >> ab.jsonl
      python scripts/ab_bench.py . q1 q2 >> ab.jsonl
    done
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _materialize_snapshot(spec: str) -> str:
    """Directory path → itself; git ref → a cached extracted snapshot."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    sha = subprocess.check_output(
        ["git", "-C", REPO, "rev-parse", "--verify", spec + "^{commit}"],
        text=True,
    ).strip()
    target = os.path.join(tempfile.gettempdir(), f"ab_snapshot_{sha[:12]}")
    if not os.path.isdir(target):
        partial = tempfile.mkdtemp(prefix=f"ab_snapshot_{sha[:12]}.")
        archive = subprocess.Popen(
            ["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE
        )
        subprocess.check_call(["tar", "-x", "-C", partial], stdin=archive.stdout)
        archive.stdout.close()
        if archive.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
        os.rename(partial, target)
    return target


def _load_session_module():
    """This tree's ``rdfind_spark/session.py``, imported by path under a
    name outside the package: importing ``rdfind_spark.session`` would
    put this tree's ``rdfind_spark`` into ``sys.modules`` and the
    snapshot would then run this tree's engine."""
    spec = importlib.util.spec_from_file_location(
        "_ab_bench_session", os.path.join(REPO, "rdfind_spark", "session.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def main() -> int:
    repo = _materialize_snapshot(sys.argv[1])
    names = sys.argv[2:]
    session = _load_session_module()
    sys.path.insert(0, repo)

    import __spark_entry__ as entry
    import rdfind_spark

    for module in (entry, rdfind_spark):
        if not os.path.abspath(module.__file__).startswith(repo + os.sep):
            raise RuntimeError(f"{module.__name__} imported from {module.__file__}, not {repo}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session.spark_session("rdfind-spark-ab")

    queries = entry.queries()

    for name in names:  # untimed JIT warmup, same plan shapes
        try:
            queries[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:  # pragma: no cover
            print(f"# warmup {name}: {exc}", file=sys.stderr)
        session.drop_cached(spark)

    timings = {}
    for name in names:
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(time.time() - t0, 3)
        session.drop_cached(spark)
    print(json.dumps({"repo": repo, "queries": timings}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

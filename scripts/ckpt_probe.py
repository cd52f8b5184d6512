#!/usr/bin/env python
"""Reliable-checkpoint overhead probe: run the heavy CIND queries at
sf0.1 alternating between the default ``localCheckpoint`` mode and the
cluster-posture reliable ``checkpoint(dir)`` mode
(``RDFIND_CHECKPOINT_DIR``), fresh process per run, and report per-mode
times — the overhead a cluster deployment pays for surviving executor
loss (recompute-from-replicated-store instead of query failure).

Usage: python scripts/ckpt_probe.py [reps] [query ...]
(defaults: 2 reps, cind_minimal cind_small_to_large)
"""

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUNNER = r"""
import sys, time
sys.path.insert(0, @REPO@)
import __spark_entry__ as entry
from rdfind_spark.session import spark_session
spark = spark_session("rdfind-spark-ckpt-probe")
q = entry.queries()[@NAME@]
# untimed sf0.001 warmup so codegen/JIT never lands in the timing
q(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
t0 = time.time()
q(spark, "/root/testdata/sf0.1").write.format("noop").mode("overwrite").save()
print(f"RESULT {time.time() - t0:.1f}")
"""


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def run_once(name: str, ckpt_dir: str | None) -> float:
    env = dict(os.environ)
    env.pop("RDFIND_CHECKPOINT_DIR", None)
    before = _dir_bytes(ckpt_dir) if ckpt_dir else 0
    if ckpt_dir:
        env["RDFIND_CHECKPOINT_DIR"] = ckpt_dir
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _RUNNER.replace("@REPO@", repr(REPO)).replace("@NAME@", repr(name)),
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        check=True,
    ).stdout
    if ckpt_dir:
        wrote = _dir_bytes(ckpt_dir) - before
        print(f"#   checkpoint bytes written: {wrote / 1e6:.1f} MB", flush=True)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return float(line.split()[1])
    raise RuntimeError(f"no RESULT line for {name}: {out[-500:]}")


def main() -> int:
    args = sys.argv[1:]
    reps = int(args[0]) if args and args[0].isdigit() else 2
    names = [a for a in args if not a.isdigit()] or [
        "cind_minimal",
        "cind_small_to_large",
    ]
    results: dict[tuple[str, str], list[float]] = {}
    with tempfile.TemporaryDirectory(prefix="rdfind-ckpt-") as ckpt:
        for rep in range(reps):
            for name in names:
                for mode, d in (("local", None), ("reliable", ckpt)):
                    dt = run_once(name, d)
                    results.setdefault((name, mode), []).append(dt)
                    print(f"# rep{rep} {name} {mode}: {dt:.1f}s", flush=True)
    for (name, mode), ts in sorted(results.items()):
        ts_s = "/".join(f"{t:.1f}" for t in ts)
        print(f"{name:24s} {mode:9s} {ts_s}  min={min(ts):.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

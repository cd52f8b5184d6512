#!/usr/bin/env python
"""Stage-level empirical profile of one or more registered queries
(guide §1.1/§7.1: find WHERE the time goes before changing anything).

Runs each named query once (sf0.001-warmed, bench session config),
then dumps every stage of its run from the local Spark UI REST API:
task count, total executor run time, max/median task time (straggler
ratio), input bytes, shuffle read/write bytes.  Output is one block
per query, stages sorted by executor run time.

Usage: python scripts/stage_profile.py QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    import __spark_entry__ as entry
    from rdfind_spark.session import drop_cached, spark_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = spark_session("rdfind-spark-stageprof", ui=True)
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    queries = entry.queries()

    def _stages() -> list[dict]:
        url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url) as r:
            return json.loads(r.read())

    def _job_of_stage() -> dict[int, str]:
        url = f"{ui}/api/v1/applications/{app_id}/jobs"
        with urllib.request.urlopen(url) as r:
            jobs = json.loads(r.read())
        out: dict[int, str] = {}
        for j in jobs:
            label = (j.get("description") or j.get("name") or "")[:60]
            for sid in j.get("stageIds", []):
                out[sid] = f"job{j['jobId']}:{label}"
        return out

    def _jobs() -> list[dict]:
        url = f"{ui}/api/v1/applications/{app_id}/jobs"
        with urllib.request.urlopen(url) as r:
            return json.loads(r.read())

    def _print_timeline(t_query0: float, before_jobs: set) -> None:
        """Driver-side critical path: each job's [start, end] relative
        to query start — serial gaps between jobs are driver/compose
        time, overlaps are concurrent background jobs."""
        import datetime as dt

        def ts(s):
            return dt.datetime.strptime(
                s[:23], "%Y-%m-%dT%H:%M:%S.%f"
            ).timestamp() + 0  # UI times are GMT; only deltas matter

        jobs = [j for j in _jobs() if j["jobId"] not in before_jobs]
        jobs.sort(key=lambda j: j["jobId"])
        if not jobs:
            return
        t0 = min(ts(j["submissionTime"]) for j in jobs if "submissionTime" in j)
        print("  --- job timeline (s rel. to first job) ---")
        for j in jobs:
            if "submissionTime" not in j:
                continue
            s = ts(j["submissionTime"]) - t0
            e = ts(j["completionTime"]) - t0 if "completionTime" in j else -1
            print(
                f"  job{j['jobId']:>4} {s:>7.1f} -> {e:>7.1f} "
                f"({e - s:>6.1f}s) tasks={j.get('numTasks', 0):>5} "
                f"{(j.get('description') or j.get('name') or '')[:60]}"
            )

    for name in names:  # untimed JIT warmup
        try:
            queries[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:
            print(f"# warmup {name}: {exc}", file=sys.stderr)
        drop_cached(spark)

    for name in names:
        before_ids = {s["stageId"] for s in _stages()}
        before_jobs = {j["jobId"] for j in _jobs()}
        # no setJobDescription here: the per-job default name (callsite)
        # is what lets the stage table distinguish the engine's jobs
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.time() - t0
        drop_cached(spark)
        stages = [s for s in _stages() if s["stageId"] not in before_ids]
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        jobmap = _job_of_stage()
        print(f"\n=== {name}: wall {wall:.1f}s, {len(stages)} stages ===")
        print(
            f"{'stg':>4} {'tasks':>5} {'run_s':>7} {'cpu_s':>7} {'in_MB':>7} "
            f"{'shR_MB':>7} {'shW_MB':>7} {'gc_s':>5}  name"
        )
        for s in stages:
            run_s = s.get("executorRunTime", 0) / 1000.0
            if run_s < 0.05:
                continue
            cpu_s = s.get("executorCpuTime", 0) / 1e9
            print(
                f"{s['stageId']:>4} {s['numCompleteTasks']:>5} "
                f"{run_s:>7.1f} {cpu_s:>7.1f} "
                f"{s.get('inputBytes', 0) / 1e6:>7.1f} "
                f"{s.get('shuffleReadBytes', 0) / 1e6:>7.1f} "
                f"{s.get('shuffleWriteBytes', 0) / 1e6:>7.1f} "
                f"{s.get('jvmGcTime', 0) / 1000.0:>5.1f}  "
                f"{jobmap.get(s['stageId'], '?')} | "
                f"{s['name'].split(chr(10))[0][:46]}"
            )
        _print_timeline(t0, before_jobs)
        sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""CIND discovery benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload zipf_hubs --seed 1 --seconds 10 --trace 0

One driver process runs one discovery at a time on ``local[<cores>]``.
Set-up starts the Spark session and writes the workload's seeded input
(three times; ``setup_s`` takes the median preparation).  The timed loop
then runs discoveries, at least MIN_RUNS, until the next one would end
past ``--seconds``; the first of them is the session's first discovery, as
a user running one discovery per application sees it.  Every discovery
writes its result to Spark's ``noop`` sink while a digest of the CIND set
is observed on the same pass and checked against the workload's expected
digest; a mismatch or an error is a failed run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` also writes a
Spark event log, runs one untimed warm-up discovery before the untraced
loop, adds one traced discovery after it and prints the per-layer metrics
(``perfbench/trace.py``), so traced and untraced discoveries are both warm.
The last line of standard output is the result object; progress goes to
standard error.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import report  # noqa: E402
from perfbench.digest import observed_digest, spark_digest_aggregates  # noqa: E402
from perfbench.inputs import (  # noqa: E402
    relabel_alphabets,
    write_orders_keys,
    write_relabeled,
    write_star_schema,
)

WORK = ROOT / ".perfbench"
EXPECTED = Path(__file__).resolve().parent / "expected.json"

# Input sizes, as small as the workloads allow (README "Sizing").
# STAR_SF scales the TPC-H-shaped tables.  ZIPF_ORDERS is the hub
# fixture's order count: its 12 celebrity hub lines hold about
# ZIPF_ORDERS / 20 + 240 captures, which must exceed the engine's
# HOT_LINE_K of 512 for the hot path to run.
STAR_SF = 0.002
ZIPF_ORDERS = 6_000
PREPS = 3  # input preparations per set-up; setup_s uses their median
MIN_RUNS = 1  # timed discoveries per run at least; discover_s is their median
MIN_FREE_DISK = 2 << 30

# workload -> (input source, engine)
WORKLOADS = {
    "tpch_allatonce": ("star", "allatonce"),
    "zipf_hubs": ("zipf", "allatonce"),
    "tpch_staged": ("star", "staged"),
}
SOURCE_PARAMS = {"star": {"sf": STAR_SF}, "zipf": {"orders": ZIPF_ORDERS}}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap by the memory the machine has free: 2 GiB with 4 GiB
    available, else 1.  Tiers, not a fraction, so the heap (and with it
    ``peak_rss_mb``) does not follow other tenants' memory use."""
    with open("/proc/meminfo") as f:
        info = dict(line.split(":", 1) for line in f)
    avail = int(info["MemAvailable"].split()[0]) / (1 << 20)
    return 2 if avail >= 4 else 1


def start_session(work: Path, event_log: Path | None):
    from pyspark.sql import SparkSession

    n = cores()
    heap = f"{heap_gb()}g"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", heap)
        # -Xms = -Xmx: no heap resizing, so peak RSS does not depend on
        # when the collector last shrank the heap.  C1 only: the timed first
        # discovery compiles less, later ones run flat (README "Session").
        # No perf-data file, so the JVM writes nothing outside the run.
        .config("spark.driver.extraJavaOptions", f"-Xms{heap} -XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log is not None:
        event_log.mkdir(parents=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def drop_leftovers(spark) -> int:
    """Clear what a discovery left cached (as ``bench.py`` does between
    queries) and force a GC; returns how many RDDs were still persisted."""
    jsc = spark.sparkContext._jsc.sc()
    leaked = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    it = jsc.getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return leaked


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    JVM), sampled every ``interval`` seconds while running."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._pids = self._tree(os.getpid())
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    @staticmethod
    def _tree(root: int) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = [root], [root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def _sample(self) -> int:
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())


def prepare_input(spark, source: str, seed: int, out: Path) -> None:
    """Write the base tables, melt them through the engine's source
    functions and write the seed's relabeled triples as split parquet."""
    from rdfind_spark.sources.skew import zipf_triples
    from rdfind_spark.sources.triples import triple_view

    base = out / "base"
    if source == "star":
        write_star_schema(str(base), STAR_SF)
        triples = triple_view(spark, str(base))
    else:
        write_orders_keys(str(base), ZIPF_ORDERS)
        triples = zipf_triples(spark, str(base))
    write_relabeled(triples, seed, str(out / "triples"), cores())


def run_engine(engine: str, triples):
    from rdfind_spark.operators.cind import discover_cinds
    from rdfind_spark.operators.staged import discover_cinds_staged

    if engine == "staged":
        return discover_cinds_staged(triples)
    return discover_cinds(triples, minimal=True)


def discover(spark, engine: str, triples_dir: Path, seed: int, expected: dict, tracer=None):
    """One discovery into the noop sink.  Returns ``(seconds, ok)``;
    ``ok`` is False on a wrong digest or an error."""
    from contextlib import nullcontext

    from pyspark.sql import Observation

    src, dst = relabel_alphabets(seed)
    obs = Observation("cind_digest")
    t0 = time.perf_counter()
    try:
        with tracer.discovery() if tracer else nullcontext():
            result = run_engine(engine, spark.read.parquet(str(triples_dir)))
            sink = (
                result.observe(obs, *spark_digest_aggregates((dst, src)))
                .write.format("noop")
                .mode("overwrite")
            )
            with tracer.span("sink", "sink") if tracer else nullcontext():
                sink.save()
        elapsed = time.perf_counter() - t0
        got = observed_digest(obs.get)
    except Exception:  # noqa: BLE001 — a failed discovery is counted, not fatal
        traceback.print_exc()
        return time.perf_counter() - t0, False
    ok = got == {"rows": expected["rows"], "sum": expected["sum"]}
    if not ok:
        log(f"digest mismatch: got {got}, expected {expected}")
    return elapsed, ok


def timed_loop(seconds: float, once) -> list[tuple[float, bool]]:
    """Closed loop: run ``once`` at least MIN_RUNS times, then until the
    next run, at the median duration so far, would end past ``seconds``."""
    runs: list[tuple[float, bool]] = []
    t0 = time.perf_counter()
    while len(runs) < MIN_RUNS or (
        time.perf_counter() - t0 + statistics.median(r[0] for r in runs) <= seconds
    ):
        runs.append(once())
        log(f"discovery {len(runs)}: {runs[-1][0]:.3f}s ok={runs[-1][1]}")
    return runs


def load_expected(source: str) -> dict:
    with open(EXPECTED) as f:
        entry = json.load(f)[source]
    if entry["params"] != SOURCE_PARAMS[source]:
        raise SystemExit(
            f"perfbench: expected.json was made for {entry['params']}, the "
            f"benchmark now uses {SOURCE_PARAMS[source]}; run perfbench/establish.py"
        )
    return entry


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    source, engine = WORKLOADS[args.workload]
    try:
        import pyspark  # noqa: F401

        import rdfind_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    expected = load_expected(source)

    WORK.mkdir(exist_ok=True)
    if shutil.disk_usage(WORK).free < MIN_FREE_DISK:
        log("less than 2 GiB of free disk for Spark's local directories")
        return 2
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK))
    for d in ("tmp", "local"):
        (work / d).mkdir()
    # Spark's launcher and the JVM write temporary files; keep them here
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    tempfile.tempdir = str(work / "tmp")
    event_log = work / "eventlog" if args.trace else None

    spark = None
    try:
        t_setup = time.perf_counter()
        spark = start_session(work, event_log)
        session_s = time.perf_counter() - t_setup
        preps = []
        for i in range(PREPS):
            t = time.perf_counter()
            prepare_input(spark, source, args.seed, work / f"input{i}")
            preps.append(time.perf_counter() - t)
        triples_dir = work / f"input{PREPS - 1}" / "triples"
        setup_s = session_s + statistics.median(preps)
        log(f"setup {setup_s:.3f}s (session {session_s:.2f}s, preps {preps})")
        if args.trace:
            warm_s, warm_ok = discover(spark, engine, triples_dir, args.seed, expected)
            drop_leftovers(spark)
            log(f"warm-up discovery: {warm_s:.3f}s ok={warm_ok}")

        def once():
            r = discover(spark, engine, triples_dir, args.seed, expected)
            drop_leftovers(spark)
            return r

        with RssSampler() as rss:
            runs = timed_loop(args.seconds, once)
        times = [s for s, ok in runs if ok] or [s for s, _ in runs]
        values = {
            "discover_s": statistics.median(times),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
        spec = report.END_TO_END
        if args.trace:
            from perfbench.trace import Tracer, layer_metrics, read_event_log

            tracer = Tracer(spark)
            runs.append(discover(spark, engine, triples_dir, args.seed, expected, tracer))
            log(f"traced discovery: {runs[-1][0]:.3f}s ok={runs[-1][1]}")
            tracer.count_rows()
            leaked = drop_leftovers(spark)
            log("row counts taken")
            stop_session(spark)
            spark = None
            events = read_event_log(str(event_log))
            log(f"event log read: {len(events['tasks'])} tasks")
            values.update(layer_metrics(tracer, events, cores()))
            values["sources.wall_s"] = statistics.median(preps)
            values["engine.leaked_persisted"] = leaked
            values["trace.untraced_discover_s"] = values["discover_s"]
            values["trace.overhead_s"] = runs[-1][0] - values["discover_s"]
            traces = WORK / "traces"
            traces.mkdir(exist_ok=True)
            tracer.dump(
                str(traces / f"{args.workload}-seed{args.seed}.json"),
                {k: values[k] for k in report.PER_LAYER},
            )
            spec = report.PER_LAYER
        failed = sum(1 for _, ok in runs if not ok)
        values["ok_frac"] = 1 - failed / len(runs)
        line = report.result_line(spec, values, attempted=len(runs), failed=failed)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Shared helpers: the longest-prefix string trie (URL shortening),
null-sensitive ordering, and the engine's Spark primitives — stage
materialization and its release, plan capture, input spreading and
loop-sized shuffle pins.

The trie and the ordering follow the reference's unit tests
(reimplemented, not copied): ``rdfind-util`` StringTrie$Test.scala:12-103
and NullSensitiveOrdered$Test.scala:12-23.
"""

from __future__ import annotations


class StringTrie:
    """Maps string prefixes to values; lookup returns the value of the
    longest registered prefix of the query (or None).

    Used for URL → prefix shortening (reference
    ``operators/ShortenUrls.scala:16-59`` + ``util/StringTrie.scala``).
    The prefix table is tiny, so the trie lives driver-side and is
    shipped to executors inside a broadcast for the shortening UDF.
    """

    __slots__ = ("children", "value")

    def __init__(self) -> None:
        self.children: dict[str, StringTrie] = {}
        self.value = None

    def put(self, key: str, value) -> None:
        node = self
        for ch in key:
            node = node.children.setdefault(ch, StringTrie())
        node.value = value

    def get(self, key: str):
        """Exact-match lookup."""
        node = self
        for ch in key:
            node = node.children.get(ch)
            if node is None:
                return None
        return node.value

    def longest_prefix(self, query: str) -> tuple[str | None, object]:
        """Return (longest registered prefix of query, its value)."""
        node = self
        best_key, best_val = None, None
        if node.value is not None:
            best_key, best_val = "", node.value
        for i, ch in enumerate(query):
            node = node.children.get(ch)
            if node is None:
                break
            if node.value is not None:
                best_key, best_val = query[: i + 1], node.value
        return best_key, best_val

    def to_pairs(self) -> list[tuple[str, object]]:
        out = []

        def walk(node: StringTrie, prefix: str) -> None:
            if node.value is not None:
                out.append((prefix, node.value))
            for ch, child in node.children.items():
                walk(child, prefix + ch)

        walk(self, "")
        return out


def null_sensitive_cmp(a, b) -> int:
    """Total order with None first: None < any value; None == None."""
    if a is None and b is None:
        return 0
    if a is None:
        return -1
    if b is None:
        return 1
    return (a > b) - (a < b)


def materialize(df, label: str = ""):
    """Cut lineage and pin ``df``'s current result — the engine's one
    stage-materialization primitive (iterative loops, the minimality
    pass, reused hot-line mask tables all go through here).  Each loop
    round or pass references earlier outputs several times (self-joins,
    probe/killer expansions); with a lazy persist the *logical plan*
    still nests exponentially and the driver runs out of memory just
    stringifying it for the SQL UI, so stage outputs are checkpointed.

    ``label`` names the stage output: when non-empty it is the Spark job
    description of the jobs that build it, so the output is named in
    the UI and the event log; the caller's description is restored
    afterwards.

    Default mode is ``localCheckpoint``: blocks live in executor-local
    storage, no reliable-store round-trip, fastest — but NOT
    fault-tolerant.  On a real multi-node cluster an executor loss
    destroys the only copy of its blocks and fails the query instead of
    recomputing (lineage was cut).  The reference never faced this
    choice: Flink's job-level restart strategy re-runs the whole job on
    task loss (SURVEY §3.1 execution notes), so checkpointed state was
    always recoverable-by-rerun.

    Cluster posture: set ``spark.rdfind.checkpointDir`` (session conf,
    e.g. an HDFS/S3 path) and every materialization switches to reliable
    ``checkpoint()``: blocks are written to the shared store and survive
    executor loss, at the cost of one write+read round-trip per
    materialized stage.  Local single-JVM runs (tests, bench) keep the
    fast default.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    if label:
        previous = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(label)
    try:
        cdir = spark.conf.get("spark.rdfind.checkpointDir", None)
        if not cdir:
            return df.localCheckpoint(eager=True)
        # setCheckpointDir once per session (idempotent target dir)
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(cdir)
        # Persist before checkpointing: the reliable-checkpoint WRITE is
        # a separate job that otherwise RECOMPUTES the whole stage (the
        # documented RDD.checkpoint caveat) — measured on cind_minimal
        # at sf0.1 (scripts/ckpt_probe.py, README table): +49% vs local
        # mode unpersisted; after this persist the same alternating
        # probe shows reliable mode within noise of local mode.  Blocks
        # are released as soon as the checkpoint files exist.
        df = df.persist()
        out = df.checkpoint(eager=True)
        df.unpersist(False)
        return out
    finally:
        if label:
            sc.setLocalProperty("spark.job.description", previous)


# Plan-capture hook (introspection only, default off): eagerly-executed
# passes (the pinned minimality pass) truncate their lineage, so the
# final ``df.explain()`` collapses to a checkpoint scan and the pass's
# own plan — the committed evidence for its shuffle width — is invisible.
# scripts/dump_plans.py sets this to a dict before composing a query;
# ``capture_plan`` then records the formatted plan of the named pass AT
# COMPOSITION TIME, i.e. under whatever conf pins are active, which is
# exactly the plan the executing action runs.  ``None`` (the default)
# costs one ``is None`` check on the hot path and nothing else.
PLAN_CAPTURE: dict | None = None


def capture_plan(label: str, df) -> None:
    """Record ``df``'s formatted physical plan under ``label`` if the
    PLAN_CAPTURE hook is armed (see above); no-op otherwise."""
    if PLAN_CAPTURE is None:
        return
    try:
        spark = df.sparkSession
        PLAN_CAPTURE[label] = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    except Exception as exc:  # noqa: BLE001 — introspection must not fail the query
        PLAN_CAPTURE[label] = f"ERROR capturing plan: {exc}"


def spread_small_input(df):
    """Input-skew guard (guide §2.5 "one huge unsplittable file"):
    repartition a narrow scan to core count right after the read.

    Parquet cannot split below a row group, and single-row-group files
    (this repo's testdata, but also any real-world small-file or
    gzip-text input) scan as ONE task — and whole-stage codegen fuses
    the expensive per-row derivation (melt, tokenize, shingle, hash,
    capture explosion) into that scan stage, so it all runs on one
    core.  Conditional, hence scale-adaptive: an input that already
    scans at least core-count-wide (any real corpus at scale) is
    returned untouched and never pays the extra shuffle; the shuffle
    that IS paid moves only the raw input bytes of a provably narrow
    scan."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def loop_shuffle_partitions(spark, n_rows: int, rows_per_partition: int = 4_000_000):
    """Context manager: pin ``spark.sql.shuffle.partitions`` to the
    MEASURED state size of an iterative loop, restoring the session
    value on exit.

    Iterative graph/label loops run many small joins per round over
    fixed-width state that is orders of magnitude smaller than the
    corpus the session-global shuffle.partitions was sized for;
    inheriting the global value costs pure scheduling overhead per
    stage (measured on pagerank: 26.6 s → 15.6 s at sf0.1 under a
    128-partition session — the same sizing rule now shared by the
    components / k-core / cluster loops).  Scale-adaptive by
    construction: partitions grow linearly with the measured row count
    (``1 + n_rows // rows_per_partition``, ~64 MB of 16-24 B rows per
    partition) and never drop below the cluster's core count."""
    from contextlib import contextmanager

    @contextmanager
    def _pin():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(
            key,
            str(
                max(
                    spark.sparkContext.defaultParallelism,
                    1 + n_rows // rows_per_partition,
                )
            ),
        )
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _pin()


def release(df) -> None:
    """Free the executor blocks behind a :func:`materialize`d frame.

    ``df.unpersist()`` is a NO-OP on a localCheckpoint-backed
    DataFrame: the blocks are pinned on the checkpoint RDD itself, not
    registered for the DataFrame's plan in the cache manager (verified
    empirically — the persisted RDD survives ``df.unpersist()``; it
    otherwise frees only when the RDD is GC'd).  This walks the
    analyzed plan's LogicalRDD leaves and unpersists their RDDs
    directly, which does drop the blocks immediately.  Safe on any
    frame: non-checkpoint leaves are skipped, failures are swallowed
    (releasing cache is an optimization, never correctness).

    Contract: call ONLY on a frame that will never be read again — a
    localCheckpoint's lineage is truncated, so a post-release read
    cannot recompute and fails (Spark logs exactly that warning at
    release time), unlike the old no-op unpersist which silently kept
    the blocks alive."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getName().endswith(".LogicalRDD"):
                leaf.rdd().unpersist(False)
    except Exception:
        pass

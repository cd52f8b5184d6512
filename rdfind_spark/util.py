"""Small pure-Python utilities: longest-prefix string trie (URL
shortening) and null-sensitive ordering.

Semantics pinned by the reference's unit tests (reimplemented, not
copied): ``rdfind-util`` StringTrie$Test.scala:12-103 and
NullSensitiveOrdered$Test.scala:12-23.
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


def materialize(df, eager: bool = True):
    """Cut lineage and pin ``df``'s current result — the engine's one
    stage-materialization primitive (iterative loops, staged lattices,
    reused sketch tables all go through here).

    Default mode is ``localCheckpoint``: blocks live in executor-local
    storage, no reliable-store round-trip, fastest — but NOT
    fault-tolerant.  On a real multi-node cluster an executor loss
    destroys the only copy of its blocks and fails the query instead of
    recomputing (lineage was cut).  The reference never faced this
    choice: Flink's job-level restart strategy re-runs the whole job on
    task loss (SURVEY §3.1 execution notes), so checkpointed state was
    always recoverable-by-rerun.

    Cluster posture: set ``spark.rdfind.checkpointDir`` (session conf,
    e.g. an HDFS/S3 path) — or the ``RDFIND_CHECKPOINT_DIR`` environment
    variable — and every materialization switches to reliable
    ``checkpoint()``: blocks are written to the shared store and survive
    executor loss, at the cost of one write+read round-trip per
    materialized stage.  Local single-JVM runs (tests, bench) keep the
    fast default.
    """
    import os

    spark = df.sparkSession
    cdir = spark.conf.get(
        "spark.rdfind.checkpointDir", os.environ.get("RDFIND_CHECKPOINT_DIR")
    )
    if cdir:
        sc = spark.sparkContext
        # setCheckpointDir once per session (idempotent target dir)
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(cdir)
        # Persist before checkpointing: the reliable-checkpoint WRITE is
        # a separate job that otherwise RECOMPUTES the whole stage (the
        # documented RDD.checkpoint caveat) — measured on cind_minimal
        # at sf0.1 (scripts/ckpt_probe.py, README table): +49% vs local
        # mode unpersisted; after this persist the same alternating
        # probe shows reliable mode within noise of local mode.  Blocks
        # are released as soon as the checkpoint files exist.  The
        # persist only pays off when WE trigger the write (eager) and
        # can unpersist right after; on a lazy checkpoint the write
        # happens at some future action and a persist here would leak
        # cached blocks forever — so the lazy reliable path skips the
        # persist and accepts the documented one-time recompute.
        if not eager:
            return df.checkpoint(eager=False)
        df = df.persist()
        out = df.checkpoint(eager=True)
        df.unpersist(False)
        return out
    return df.localCheckpoint(eager=eager)


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


def salted_join(
    left,
    right,
    on: list[str],
    how: str = "inner",
    salt: int = 16,
):
    """Skew-hardened equi-join: each (large, skewed) ``left``-side row
    gets an arbitrary salt in [0, salt), the (smaller) ``right`` side is
    replicated ``salt`` ways, and the join runs on (keys + salt) so one
    hot key spreads over ``salt`` reducer partitions instead of melting
    a single task.  The salt value is partition-layout-dependent (it
    hashes ``monotonically_increasing_id``) and may differ when a
    partition is recomputed — harmless for correctness, since every
    salt value has a matching right-side replica; do not rely on it for
    reproducible row placement.

    The CIND hot-line kernel joins its mask-cap overflow lines through
    it (operators/cind.py ``cold_line_join``, the staged engine's
    evidence verify); the discovery pair count keeps its own salted
    triangle self-join (``_salted_pair_counts``), which needs each
    unordered pair once.  AQE's skew-join split handles moderate skew on
    its own; explicit salting is for the regime where a single key
    exceeds what one task can hold at all.  ``right`` is replicated
    ``salt``× — keep it the smaller side.

    Only inner/left joins are supported (for other types the replicated
    right side would change multiplicities).
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left' only")
    lsalt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l.join(r, on=[*on, "__salt"], how=how).drop("__salt")


def skew_report(df, cols: list[str], top_k: int = 20):
    """Skew diagnostic for a prospective join/groupBy key: the top-k
    heaviest key values with their row counts, frequency in ppm of the
    total, and a suggested salt factor (heavy-key rows ÷ a 4M-row task
    budget, the same sizing rule as the CIND engine's hub handling).

    One aggregation + a TakeOrdered top-k — safe to run on the full
    table at any scale; the output is top_k rows.  Use before choosing
    between a plain join, AQE skew splitting, and ``salted_join``:
    suggested_salt == 1 for every reported key means AQE alone is
    enough."""
    from pyspark.sql import functions as F

    rows_per_task = 4_000_000
    counts = df.groupBy(*cols).agg(F.count("*").alias("n_rows"))
    total = df.count()
    return (
        counts.orderBy(F.col("n_rows").desc(), *cols)
        .limit(top_k)
        .select(
            *cols,
            "n_rows",
            (F.col("n_rows") * 1_000_000 / F.lit(max(total, 1)))
            .cast("long")
            .alias("freq_ppm"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n_rows") / F.lit(rows_per_task)),
            )
            .cast("int")
            .alias("suggested_salt"),
        )
    )

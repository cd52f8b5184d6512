"""The one session factory and the one cache drop (``rdfind_spark.session``).

The ``drop_cached`` test lives in a module of its own: it unpersists
every RDD of the shared session, so no other module's cached fixture
may be live while it runs."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILDER_OWNERS = {
    os.path.join("rdfind_spark", "session.py"),
    # under the benchmark's frozen paths; keeps its own profile
    os.path.join("perfbench", "run.py"),
}


def test_session_builder_only_in_the_factory():
    """Every harness starts Spark through ``session.spark_session``; a
    hand-rolled builder is how profiles drift apart (an A/B tool that
    measured without the bench's codegen-cache settings)."""
    needle = "SparkSession." + "builder"
    offenders = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, REPO)
            if rel in BUILDER_OWNERS:
                continue
            with open(path, encoding="utf-8") as fh:
                if needle in fh.read():
                    offenders.append(rel)
    assert offenders == []


def test_drop_cached_leaves_nothing_persisted(spark):
    from pyspark.sql import functions as F

    from rdfind_spark.session import drop_cached
    from rdfind_spark.util import materialize

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    cached = spark.range(1_000).select((F.col("id") % 7).alias("k")).persist()
    cached.count()
    materialize(spark.range(1_000).select((F.col("id") * 2).alias("y")), "drop_cached_test")
    assert persisted() >= 2

    drop_cached(spark)

    assert persisted() == 0


def test_default_heap_fits_the_machine():
    """The factory's default heap is half of the machine's memory,
    capped at 48g, so a small host does not OOM-kill its own driver and
    a large one keeps the 48g heap."""
    from rdfind_spark.session import default_driver_memory

    gib = 1024**3
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(8 * gib) == "4096m"
    assert default_driver_memory(96 * gib) == "49152m"
    assert default_driver_memory(1024 * gib) == "49152m"
    assert 0 < int(default_driver_memory()[:-1]) <= 48 * 1024

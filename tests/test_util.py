"""Trie + null-ordering semantics pins (FIXTURES.md §1; reference
StringTrie$Test.scala:15-42, NullSensitiveOrdered$Test.scala:12-22)."""

from __future__ import annotations

from rdfind_spark.util import StringTrie, null_sensitive_cmp

PREFIXES = {
    "http://dbpedia.org/resource/": "dbpr",
    "http://dbpedia.org/resource/Category:": "dbpc",
    "http://xmlns.com/foaf/0.1/": "foaf",
    "urn:yahoo:maps": "y",
}


def make_trie() -> StringTrie:
    t = StringTrie()
    for k, v in PREFIXES.items():
        t.put(k, v)
    return t


def test_longest_prefix_match():
    t = make_trie()
    key, val = t.longest_prefix("http://dbpedia.org/resource/Berlin")
    assert (key, val) == ("http://dbpedia.org/resource/", "dbpr")
    key, val = t.longest_prefix("http://dbpedia.org/resource/Category:Cities")
    assert (key, val) == ("http://dbpedia.org/resource/Category:", "dbpc")
    key, val = t.longest_prefix("http://xmlns.com/foaf/0.1/knows")
    assert (key, val) == ("http://xmlns.com/foaf/0.1/", "foaf")


def test_miss_and_exact():
    t = make_trie()
    assert t.longest_prefix("https://example.org/x") == (None, None)
    assert t.longest_prefix("urn:yahoo:maps") == ("urn:yahoo:maps", "y")
    assert t.get("urn:yahoo:maps") == "y"
    assert t.get("urn:yahoo:map") is None


def test_empty_key_root():
    t = make_trie()
    t.put("", "root")
    key, val = t.longest_prefix("zzz")
    assert (key, val) == ("", "root")


def test_to_pairs_roundtrip():
    t = make_trie()
    assert dict(t.to_pairs()) == PREFIXES


def test_null_ordering():
    assert null_sensitive_cmp(None, "a") == -1
    assert null_sensitive_cmp("a", None) == 1
    assert null_sensitive_cmp(None, None) == 0
    assert null_sensitive_cmp("a", "b") == -1
    assert null_sensitive_cmp("b", "a") == 1
    assert null_sensitive_cmp("a", "a") == 0


def test_materialize_label_is_the_job_description(spark):
    """materialize(df, label) runs the jobs that build df under the job
    description ``label`` and restores the caller's description."""
    from rdfind_spark.util import materialize

    sc = spark.sparkContext
    sc.setJobGroup("materialize-label", "outer")
    try:
        out = materialize(spark.range(0, 10).selectExpr("id * 2 AS v"), "stage:v")
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out.count() == 10
    ids = sc.statusTracker().getJobIdsForGroup("materialize-label")
    store = sc._jsc.sc().statusStore()
    assert ids
    assert {store.job(j).description().get() for j in ids} == {"stage:v"}


def test_materialize_reliable_checkpoint_mode(spark, tmp_path):
    """materialize() defaults to localCheckpoint; with
    spark.rdfind.checkpointDir set it writes reliable checkpoints to
    that directory (cluster fault-tolerance posture)."""
    from rdfind_spark.util import materialize

    df = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    local = materialize(df)
    assert local.count() == 100
    assert local.rdd.getNumPartitions() >= 1

    cdir = str(tmp_path / "reliable-ckpt")
    spark.conf.set("spark.rdfind.checkpointDir", cdir)
    try:
        reliable = materialize(df)
        assert reliable.count() == 100
        # the reliable mode must actually have written to the directory
        import os

        found = []
        for root, _dirs, files in os.walk(cdir):
            found.extend(files)
        assert found, f"no checkpoint files under {cdir}"
        # results agree across modes
        assert sorted(map(tuple, reliable.collect())) == sorted(
            map(tuple, local.collect())
        )
    finally:
        spark.conf.unset("spark.rdfind.checkpointDir")


def test_release_frees_local_checkpoint_blocks(spark):
    """df.unpersist() is a documented NO-OP on a localCheckpoint-backed
    frame (the blocks are pinned on the checkpoint RDD, not registered
    for the DataFrame in the cache manager); util.release must actually
    drop them.  Asserted via the Spark-context persistent-RDD registry
    delta so other session state doesn't interfere."""
    from pyspark.sql import functions as F

    from rdfind_spark.util import materialize, release

    sc = spark.sparkContext

    def persisted_ids():
        ids = set()
        it = sc._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    before = persisted_ids()
    ck = materialize(
        spark.range(10_000).select("id", (F.col("id") * 2).alias("y"))
    )
    created = persisted_ids() - before
    assert created, "materialize should pin blocks"
    ck.unpersist()  # the documented no-op
    assert created <= persisted_ids(), "unpersist must be the no-op we claim"
    release(ck)
    after = persisted_ids()
    assert not (created & after), "release must drop the pinned RDD blocks"
    # releasing an ordinary (non-checkpoint) frame is a safe no-op
    release(spark.range(10).select("id"))

"""Staged (SmallToLarge-style) CIND traversal strategy.

The reference's default strategy (``plan/SmallToLargeTraversalStrategy
.scala:38-171``) discovers CIND classes in arity order and uses each
class to *generate candidates* for the next, so the expensive evidence
collection only runs for captures that can still participate:

    1/1 overlaps → 1/1 CINDs + proper overlaps            (G2/A6/G16)
    1/1 CINDs sharing a dep (plus the dep's own
        capture) → 1/2 candidates                         (G6)
    (1/1 CINDs ∪ proper overlaps) sharing a ref → 2/1
        candidates, provenance-tagged exact/inferred      (G7/G9)
    support-pruned 2/1 candidates (exact ∪ inferred)
        sharing a dep → 2/2 candidates                    (G8/G9)
    1/2 ∪ exact-2/1 ∪ 2/2 candidates → ONE evidence join  (G10-G12/A5)
    1/1 ∪ verified classes → minimality

Here "verify" is a relational evidence join *restricted by semi-joins
to the candidate captures* — the Spark-native replacement for the
reference's broadcast candidate Bloom filters (exact, no false
positives; SURVEY §4).  Hub join lines are handled by the hot-line
kernel of ``operators.cind``: one census of the capture table feeds
both the stage-1 pair join (``capture_overlaps``) and the evidence
join, which share one mask table.

Equivalence contract: after the minimality pass, the staged result
equals ``discover_cinds(minimal=True)`` — the reference implicitly
relies on the same cross-strategy agreement (SURVEY §5).  Pre-
minimality outputs can differ by result-set-bounded non-minimal rows
(verified 2/1s whose dep generalization is a 1/1 CIND, and 2/2s a 1/2
CIND implies — admitted by the candidate merges below and killed by
``remove_implied_cinds``); the cross-strategy property tests pin the
post-minimality agreement.

Scale notes: candidate tables are result-sized (bounded by the CIND
output, orders of magnitude below the data), so the semi-join
restrictions broadcast; the evidence join is an equi-join on
``join_value`` over the *restricted* capture tables — strictly smaller
than the all-at-once pair join.  The one quadratic stage (1/1) runs on
the shared hot-line/salting machinery.

Cost structure vs the all-at-once plan: both pay the same shared
prefix (``build_capture_tables``) and hot-line census.  The staged plan
then adds the 2/1 merge join, the 2/2 self-join and the evidence join,
each behind a checkpoint barrier; those serial candidate → verify
rounds, which the all-at-once plan fuses into one pair join, are why it
is slower on benign inputs.  It is the right tool in the regime the
reference built it for — overlap-explosion inputs where the
all-at-once pair output (all arities at once) dwarfs the staged
candidate classes — and for bounding plan/driver memory (each stage is
checkpoint-truncated).  ``perfbench/run.py --workload tpch_staged
--trace 1`` splits a discovery into these layers.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from rdfind_spark import condition_codes as cc
from rdfind_spark.util import materialize
from rdfind_spark.operators.cind import (
    JV,
    build_capture_tables,
    capture_overlaps,
    cold_line_join,
    hot_line_census,
    hot_line_masks,
    hot_line_overlap,
    line_product_is_safe,
    masks_as,
    remove_implied_cinds,
    structural_implies,
)

def _materialize(df: DataFrame, label: str = "") -> DataFrame:
    """Eagerly compute a result-sized stage output and TRUNCATE its
    lineage (``localCheckpoint``).  Each staged-lattice stage references
    earlier stages several times (self-joins, probe/killer expansions);
    with lazy persist the *logical plan* still nests exponentially and
    the driver OOMs just stringifying it for the SQL UI.  Checkpointing
    stage outputs keeps every plan stage-local — the staged strategy is
    inherently a sequence of materialized jobs in the reference too.

    Set ``SPARK_GRAFT_STAGE_TIMING=1`` to print per-stage wall clock."""
    import time

    t0 = time.time()
    out = materialize(df)
    if label and os.environ.get("SPARK_GRAFT_STAGE_TIMING"):
        print(f"## stage {label}: {time.time() - t0:.1f}s", flush=True)
    return out


_DEP_KEY = ["dep_code", "dep_v1", "dep_v2"]
_REF_KEY = ["ref_code", "ref_v1", "ref_v2"]
_CIND_KEY = _DEP_KEY + _REF_KEY


def _merge_ok(code_a: Column, code_b: Column) -> Column:
    """True when two unary capture codes merge into a valid binary one
    in canonical order: same projected field, a's condition field bit
    strictly below b's (fields are single bits, so integer < is bit
    order; value1 of the merged capture then comes from a)."""
    same_sec = code_a.bitwiseAND(cc.SECONDARY_MASK) == code_b.bitwiseAND(
        cc.SECONDARY_MASK
    )
    return same_sec & (
        code_a.bitwiseAND(cc.PRIMARY_MASK) < code_b.bitwiseAND(cc.PRIMARY_MASK)
    )


_DEP_H = ["dep_h1", "dep_h2"]
_REF_H = ["ref_h1", "ref_h2"]
_PAIR_H = _DEP_H + _REF_H


def _support_pruned(cands: DataFrame, supports: DataFrame) -> DataFrame:
    """Attach the 96-bit dep/ref hashes and apply the two exact support
    prunes BEFORE any instance work —
    the lattice merges construct refs freely, so most candidates die
    here:

    (1) a holding candidate needs overlap == dep_support >=
        min_support, and overlap <= ref_support — so the merged ref
        must itself be FREQUENT (the merge stages never check ref
        frequency; measured: the 2/2 class shrinks ~9x);
    (2) by the same chain ref_support >= dep_support, a directional
        prune unavailable to the all-at-once engine (its unordered
        pairs always satisfy one direction).

    Both are inner broadcast joins against the result-sized hash-keyed
    support table; a dropped candidate provably CANNOT verify, so the
    verified result set is unchanged.  The same argument makes the
    prune sound on the 2/2 SEED (see discover_cinds_staged): a true
    2/2's parents are true 2/1s, and a true 2/1 always survives both
    prunes, so pruning the seed loses no true 2/2 candidate.  Extra
    columns on ``cands`` (provenance tags) pass through untouched."""
    return (
        cands.select(
            "*",
            F.xxhash64("dep_code", "dep_v1", "dep_v2").alias("dep_h1"),
            F.hash("dep_code", "dep_v1", "dep_v2").alias("dep_h2"),
            F.xxhash64("ref_code", "ref_v1", "ref_v2").alias("ref_h1"),
            F.hash("ref_code", "ref_v1", "ref_v2").alias("ref_h2"),
        )
        .join(
            F.broadcast(
                supports.select(
                    F.col("h1").alias("ref_h1"),
                    F.col("h2").alias("ref_h2"),
                    F.col("support").alias("_rsup"),
                )
            ),
            on=_REF_H,
        )
        .join(
            F.broadcast(
                supports.select(
                    F.col("h1").alias("dep_h1"),
                    F.col("h2").alias("dep_h2"),
                    F.col("support").alias("_dsup"),
                )
            ),
            on=_DEP_H,
        )
        .filter(F.col("_rsup") >= F.col("_dsup"))
        .drop("_rsup", "_dsup")
    )


def _verify_candidates(
    caps: DataFrame,
    cands: DataFrame,
    hot_values: list,
    hot_masks: DataFrame | None,
    supports: DataFrame,
    hot_overflow: DataFrame | None,
) -> DataFrame:
    """Exact evidence check for candidate CINDs: count join values where
    dep and ref co-occur, restricted to candidate captures up front
    (semi-joins) and to candidate *pairs* before aggregation; a
    candidate holds iff its co-occurrence count equals the dep support
    (the relational form of G10-G12 extraction + A5 intersection).

    The instance table is the hashed capf form ``(jv1, jv2, h1, h2,
    support)`` and every join/aggregate here runs on fixed-width hash
    keys; candidate strings (which the lattice merges constructed
    explicitly) are hashed directly and restored from the result-sized
    candidate table at the end.

    Join order note: the instance tables join on the join value first
    and the candidate-pair filter applies right after (Catalyst plans
    the broadcast filter into the same stage).  The tempting
    "candidate-driven" order — fan each dep instance out to its
    candidate partners, then match ref instances on (ref, join_value) —
    measured 10× WORSE for 2/1 candidates: a binary dep can carry
    hundreds of candidate refs, and the fan-out (Σ dep_support ×
    refs_per_dep) dwarfs the join_value co-occurrence output, spilling
    tens of GB.

    Hub join lines (many candidate deps × many candidate refs on one
    key) would still blow up the join, so they go through the hot-line
    kernel of ``operators.cind``: unlike discovery, verification KNOWS
    its pairs up front, so a hot line's contribution to every candidate
    pair is read off the caller's full-line mask table
    (``hot_line_overlap``) — linear in candidates, the hub product never
    materializes.  The remaining lines, including the census overflow
    past the mask cap, are counted by ``cold_line_join``.  Always
    exact: mask values depend only on (capture, hot line set), and the
    full-line census is a superset of any restricted side's hot set."""
    ch = _materialize(
        _support_pruned(cands.select(*_CIND_KEY).distinct(), supports),
        "cand:12+21+22",
    )
    # Hub-safety gate: with a candidate restriction the per-line pair
    # product is bounded by (#distinct candidate dep captures) ×
    # (#distinct candidate ref captures).  When that global bound is
    # safe, no line can melt a task and the plain exact join wins (skips
    # the mask joins, the cold/overflow split, and several instance-cache
    # scans).  Both counts come from one result-sized aggregate over the
    # materialized candidate table.
    _g = ch.select(
        F.count_distinct("dep_h1", "dep_h2").alias("nd"),
        F.count_distinct("ref_h1", "ref_h2").alias("nr"),
    ).collect()[0]
    plain = line_product_is_safe(_g.nd, _g.nr)
    if os.environ.get("SPARK_GRAFT_STAGE_TIMING"):
        print(f"## gate 12+21+22: n_dep={_g.nd} n_ref={_g.nr} plain={plain}", flush=True)
    pair_keys = ch.select(*_PAIR_H)
    a = caps.join(
        F.broadcast(ch.select(F.col("dep_h1").alias("h1"), F.col("dep_h2").alias("h2")).distinct()),
        on=["h1", "h2"],
        how="left_semi",
    ).select(
        *JV,
        F.col("h1").alias("dep_h1"),
        F.col("h2").alias("dep_h2"),
        F.col("support").alias("dep_support"),
    )
    b = caps.join(
        F.broadcast(ch.select(F.col("ref_h1").alias("h1"), F.col("ref_h2").alias("h2")).distinct()),
        on=["h1", "h2"],
        how="left_semi",
    ).select(*JV, F.col("h1").alias("ref_h1"), F.col("h2").alias("ref_h2"))

    def _restore(verified: DataFrame) -> DataFrame:
        return verified.join(F.broadcast(ch), on=_PAIR_H).select(
            *_CIND_KEY, "support"
        )

    if plain or not hot_values:
        pairs = a.join(b, on=JV).join(F.broadcast(pair_keys), on=_PAIR_H)
        return _restore(
            pairs.groupBy(*_PAIR_H, "dep_support")
            .agg(F.count("*").alias("overlap"))
            .filter(F.col("overlap") == F.col("dep_support"))
            .select(*_PAIR_H, F.col("dep_support").alias("support"))
        )
    # candidate dep supports straight off the cached frequent table
    # (hash-keyed, result-bounded) — no distinct pass over the
    # restricted instance rows
    dsup = supports.select(
        F.col("h1").alias("dep_h1"),
        F.col("h2").alias("dep_h2"),
        F.col("support").alias("dep_support"),
    ).join(F.broadcast(ch.select(*_DEP_H).distinct()), on=_DEP_H, how="left_semi")
    cold_cnt = (
        cold_line_join(a, b, hot_values, hot_overflow)
        .join(F.broadcast(pair_keys), on=_PAIR_H)
        .groupBy(*_PAIR_H)
        .agg(F.count("*").alias("cold_overlap"))
    )
    # the shared mask table is keyed by capture hash, renamed per side
    # (captures outside the restriction are never probed — pair_keys
    # drives the joins)
    return _restore(
        pair_keys.join(F.broadcast(masks_as(hot_masks, "dep")), on=_DEP_H, how="left")
        .join(F.broadcast(masks_as(hot_masks, "ref")), on=_REF_H, how="left")
        .join(cold_cnt, on=_PAIR_H, how="left")
        .join(F.broadcast(dsup), on=_DEP_H)
        .select(
            *_PAIR_H,
            "dep_support",
            (
                F.coalesce(F.col("cold_overlap"), F.lit(0))
                + hot_line_overlap("dep", "ref", hot_values)
            ).alias("overlap"),
        )
        .filter(F.col("overlap") == F.col("dep_support"))
        .select(*_PAIR_H, F.col("dep_support").alias("support"))
    )


def _merged_dep_candidates(
    partners: DataFrame, allowed_deps: DataFrame
) -> DataFrame:
    """Self-join the directional (dep → ref) ``partners`` set on its ref
    and merge pairs of unary deps into a canonical binary dep, tagged
    with the provenance described below (``partners`` carries an
    ``is_cind`` column).

    ``allowed_deps``: result-sized (dep_code, dep_v1, dep_v2) whitelist
    (the frequent binary captures) — a merged dep that is not frequent
    can never verify (its support is below min_support by definition).
    Both join sides are pre-restricted to deps that generalize SOME
    whitelisted binary (shrinking the quadratic per-ref pair join
    itself), and the whitelist semi-join runs BEFORE the dedup so the
    distinct shuffle is result-bounded, not explosion-bounded.

    Join-shape note: the per-ref self-join (quadratic in deps sharing a
    hub ref) measured FASTER at sf0.1 than the tempting whitelist-
    decomposition probe (map each unary half to the frequent binaries
    it opens, then semi-join the other half): a popular unary opens one
    binary per frequent value of its field, so that probe's fan-out
    (rows × binaries-per-unary, measured 47s) dwarfs the pair join
    (~18s) on Zipfian predicates."""
    gen_branches = []
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        for ucode, value_index in gens:
            kept = F.col("dep_v1") if value_index == 1 else F.col("dep_v2")
            gen_branches.append(
                allowed_deps.filter(F.col("dep_code") == bcode).select(
                    F.lit(ucode).alias("dep_code"), kept.alias("dep_v1")
                )
            )
    gen_deps = gen_branches[0]
    for g in gen_branches[1:]:
        gen_deps = gen_deps.unionByName(g)
    gen_deps = gen_deps.distinct()

    def _mergeable(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(gen_deps), on=["dep_code", "dep_v1"], how="left_semi"
        )

    # The pair join, dedup, and whitelist all run on a 64-bit hash of
    # the ref key instead of its three (long URI) strings — the strings
    # are restored at the end from the result-sized distinct-ref map.
    # An rh collision can only MANUFACTURE a pair (two different refs
    # colliding), never drop one; manufactured candidates are killed by
    # the exact verification downstream, so this is a pure
    # shuffle-width optimization with no correctness exposure (unlike
    # the instance tables, where a collision corrupts counts — hence
    # their 96 bits).
    #
    # Bipartite enumeration: _merge_ok admits a pair only when both
    # deps project the SAME field (equal secondary mask) and the left
    # dep's condition-field bit is the LOWER of that projection's two
    # valid condition fields.  Those two constraints fully partition
    # the valid pairs, so instead of joining all ordered pairs per ref
    # and filtering (k² generated rows per ref group — measured 4.3B
    # at sf0.1, with a 21k-partner hub ref contributing 441M from one
    # key), the join puts lower-bit codes {10, 17, 33} on side A,
    # higher-bit codes {12, 20, 34} on side B, and keys on (rh, sec):
    # every generated row IS a valid merge in canonical orientation
    # (Σ ka×kb per (ref, projection) cell — an order of magnitude
    # fewer rows, and the hub key splits across its projection cells).
    refmap = (
        partners.select(*_REF_KEY)
        .distinct()
        .select(F.xxhash64(*_REF_KEY).alias("rh"), *_REF_KEY)
    )
    # The dep VALUE strings are hashed too: the quadratic row stream
    # (ka×kb per ref cell) then carries 4 longs + 2 bools instead of
    # two URI strings, the broadcast whitelist probe hashes fixed-width
    # keys, and the dedup's map-side partial agg keys on longs
    # (measured 28.4s → see commit for the delta).  Value strings are
    # restored from the partner-sized value map onto the result-sized
    # deduped candidates only.  A value-hash collision can only
    # MANUFACTURE candidates (the restore join fans a colliding hash
    # out to every matching string) — never drop one — and fabricated
    # candidates die in exact verification, same argument as rh.
    vmap = (
        partners.select("dep_v1")
        .distinct()
        .select(F.xxhash64("dep_v1").alias("vh"), F.col("dep_v1").alias("v"))
    )
    allowed_h = allowed_deps.select(
        "dep_code",
        F.xxhash64("dep_v1").alias("v1h"),
        F.xxhash64("dep_v2").alias("v2h"),
    )
    lower_codes, higher_codes = [], []
    for sec_field in cc.FIELDS:
        lo, hi = sorted(f for f in cc.FIELDS if f != sec_field)
        lower_codes.append(cc.create_condition_code(lo, sec_field))
        higher_codes.append(cc.create_condition_code(hi, sec_field))
    sec = F.col("dep_code").bitwiseAND(F.lit(cc.SECONDARY_MASK)).alias("sec")
    l = (
        _mergeable(partners)
        .filter(F.col("dep_code").isin(lower_codes))
        .select(
            F.xxhash64(*_REF_KEY).alias("rh"),
            sec,
            F.col("dep_code").alias("l_code"),
            F.xxhash64("dep_v1").alias("l_vh"),
            F.col("is_cind").alias("l_cind"),
        )
    )
    r = (
        _mergeable(partners)
        .filter(F.col("dep_code").isin(higher_codes))
        .select(
            F.xxhash64(*_REF_KEY).alias("rh"),
            sec,
            F.col("dep_code").alias("r_code"),
            F.xxhash64("dep_v1").alias("r_vh"),
            F.col("is_cind").alias("r_cind"),
        )
    )
    merged = (
        l.join(r, on=["rh", "sec"])
        .select(
            F.col("l_code").bitwiseOR(F.col("r_code")).alias("dep_code"),
            F.col("l_vh").alias("v1h"),
            F.col("r_vh").alias("v2h"),
            "rh",
            "l_cind",
            "r_cind",
        )
        .join(F.broadcast(allowed_h), on=["dep_code", "v1h", "v2h"], how="left_semi")
    )
    # Provenance per candidate (a candidate can arise from many pairs):
    # ``exact`` — SOME generating pair had neither side a full 1/1 CIND
    # (the reference's proper × proper candidates, the only ones it
    # verifies); ``inferred`` — SOME pair involved a 1/1 CIND (true but
    # non-minimal 2/1s, used only to seed 2/2 candidates).
    deduped = merged.groupBy("dep_code", "v1h", "v2h", "rh").agg(
        F.max(~F.col("l_cind") & ~F.col("r_cind")).alias("exact"),
        F.max(F.col("l_cind") | F.col("r_cind")).alias("inferred"),
    )
    return (
        deduped.join(
            F.broadcast(vmap.select(F.col("vh").alias("v1h"), F.col("v").alias("dep_v1"))),
            on="v1h",
        )
        .join(
            F.broadcast(vmap.select(F.col("vh").alias("v2h"), F.col("v").alias("dep_v2"))),
            on="v2h",
        )
        .join(F.broadcast(refmap), on="rh")
        .select(*_CIND_KEY, "exact", "inferred")
    )


def discover_cinds_staged(
    triples: DataFrame,
    min_support: int = 10,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """SmallToLarge-style staged discovery of pertinent *minimal* CINDs.
    Same output schema and (post-minimality) same result set as
    ``discover_cinds(..., minimal=True)``."""
    spark = triples.sparkSession
    # Same hashed bulk pipeline as the all-at-once engine: distinct /
    # support counts / every verify join move only 96-bit hash pairs;
    # capture strings are restored once for the result-sized frequent
    # set, and candidate strings live only in the lattice tables.
    # defer_frequent: the string-recovery scan overlaps the hot census
    # below (frequent's first reader is stage 1's restore join)
    _cand, dcap_h, freq_h, frequent, capf = build_capture_tables(
        triples, min_support, projection, defer_frequent=True
    )
    # ONE full-line hot census (the kernel's bounded collect) shared by
    # the stage-1 pair join and the evidence join — a superset of any
    # restricted side's hot set, and the decomposition is exact for any
    # hot set — plus ONE capture→hot-line mask table for both.
    hot_values, hot_overflow = hot_line_census(capf)
    if hot_overflow is not None:
        # checkpoint: consumed by both the pair stage and the evidence
        # join, which would otherwise re-run the census aggregate
        hot_overflow = _materialize(hot_overflow, "hot_overflow")

    # The mask table is consumed first by the evidence join — three
    # stages from now — so its aggregate runs in a background thread,
    # overlapping stage 1's pair join (Spark schedules jobs from
    # concurrent driver threads independently; the .result() below is
    # the synchronization point).
    def _masks() -> DataFrame | None:
        if not hot_values:
            return None
        return _materialize(hot_line_masks(capf, hot_values), "hot_masks")

    import concurrent.futures

    _bg = concurrent.futures.ThreadPoolExecutor(max_workers=1)
    _mask_fut = _bg.submit(_masks)
    freq_u = frequent.filter(F.col("code").isin(list(cc.VALID_UNARY_CODES)))

    def _keys_of(freq_subset: DataFrame) -> DataFrame:
        return freq_subset.select(
            F.xxhash64("code", "v1", "v2").alias("h1"),
            F.hash("code", "v1", "v2").alias("h2"),
        )

    capu = capf.join(F.broadcast(_keys_of(freq_u)), on=["h1", "h2"], how="left_semi")

    # ---- stage 1: unary/unary overlaps (skew-hardened shared
    # machinery) — capu is already the hashed capf form it expects; the
    # shared full-line census is a superset of capu's hot lines, so the
    # pair stage skips its own census job (exact for any hot set).
    ov_uu = capture_overlaps(
        capu,
        freq_u,
        min_overlap=min_support,
        hot_values=hot_values,
        hot_overflow=hot_overflow,
    )
    ov_uu = _materialize(ov_uu.coalesce(spark.sparkContext.defaultParallelism), "ov_uu")

    # ONE directional pass over the materialized overlap table builds
    # BOTH stage-1 classes (1/1 CINDs and proper overlaps, both
    # directions) behind a single materialization barrier — cind11 and
    # the proper side were two separate checkpoint jobs over the same
    # parent (r12; guide §2.4 "share one pass").  ``is_cind`` tags the
    # class; the class tables are cheap filters of the checkpointed
    # union.
    def _dir_rows(dep: str, ref: str) -> DataFrame:
        return ov_uu.select(
            F.col(f"{dep}_code").alias("dep_code"),
            F.col(f"{dep}_v1").alias("dep_v1"),
            F.col(f"{dep}_v2").alias("dep_v2"),
            F.col(f"{ref}_code").alias("ref_code"),
            F.col(f"{ref}_v1").alias("ref_v1"),
            F.col(f"{ref}_v2").alias("ref_v2"),
            F.col(f"{dep}_support").alias("support"),
            (F.col("overlap") == F.col(f"{dep}_support")).alias("is_cind"),
        )

    partners = _materialize(
        _dir_rows("a", "b").unionByName(_dir_rows("b", "a")), "partners"
    )
    cind11 = partners.filter("is_cind").select(*_CIND_KEY, "support")
    if ar_filter:
        from rdfind_spark.operators.rules import (
            association_rules,
            filter_ar_implied_cinds,
        )

        cind11 = _materialize(
            filter_ar_implied_cinds(
                cind11, association_rules(triples, min_support, 1.0)
            ),
            "cind11",
        )
        # the AR filter shrinks the CIND class, so the merge partners
        # must be rebuilt from the filtered table (reference order:
        # AR-filtered CINDs no longer generate candidates)
        partners = cind11.select(*_CIND_KEY).withColumn(
            "is_cind", F.lit(True)
        ).unionByName(
            partners.filter(~F.col("is_cind")).select(*_CIND_KEY).withColumn(
                "is_cind", F.lit(False)
            )
        )

    # ---- stage 2: 1/2 — candidate refs from pairs of 1/1 CINDs with
    # the same dep (G6), verified exactly.  The ref pool is augmented
    # with each dep's *own* capture (the reference's "trivial
    # refinements", ``GenerateUnaryBinaryCindCandidates.scala:12-41``):
    # the CIND dep ⊆ dep is structurally trivial and never in cind11,
    # yet refs like (dep-condition ∧ r) — "of my p1-subjects, those are
    # exactly the ones whose p1-triple also has o=x" — are only
    # reachable by merging the dep's condition itself with a known ref.
    refs12 = cind11.select(*_DEP_KEY, "ref_code", "ref_v1").unionByName(
        cind11.select(*_DEP_KEY)
        .distinct()
        .select(
            *_DEP_KEY,
            F.col("dep_code").alias("ref_code"),
            F.col("dep_v1").alias("ref_v1"),
        )
    )
    r1 = refs12.select(
        *_DEP_KEY, F.col("ref_code").alias("r1_code"), F.col("ref_v1").alias("r1_v1")
    )
    r2 = refs12.select(
        *_DEP_KEY, F.col("ref_code").alias("r2_code"), F.col("ref_v1").alias("r2_v1")
    )
    cand12 = (
        r1.join(r2, on=_DEP_KEY)
        .filter(_merge_ok(F.col("r1_code"), F.col("r2_code")))
        .select(
            *_DEP_KEY,
            F.col("r1_code").bitwiseOR(F.col("r2_code")).alias("ref_code"),
            F.col("r1_v1").alias("ref_v1"),
            F.col("r2_v1").alias("ref_v2"),
        )
    )
    # ---- stage 3 candidates: 2/1 — candidate deps merged from pairs of
    # directional rows sharing a ref.  ONE merge over partners = 1/1
    # CINDs ∪ proper overlaps covers both the exact 2/1 candidates
    # (proper × proper, G7) and the reference's "inferred 2/1s"
    # (cind11 × partner, G9, which the reference keeps unverified and
    # uses only to seed 2/2 candidates): the union replaces what were
    # two quadratic per-ref merge joins with one (measured: 17.9s +
    # 17.7s → ~21s at sf0.1).  The extra verified rows this admits —
    # true but non-minimal 2/1s whose dep generalization is a 1/1 CIND —
    # are exactly the rows ``remove_implied_cinds`` kills (their killer
    # x ⊆ r is in cind11 by construction of the merge), so the
    # post-minimality contract is unchanged.
    freq_bdep = frequent.filter(
        F.col("code").isin(list(cc.VALID_BINARY_CODES))
    ).select(
        F.col("code").alias("dep_code"),
        F.col("v1").alias("dep_v1"),
        F.col("v2").alias("dep_v2"),
    )
    cand21 = _materialize(
        _merged_dep_candidates(partners.select(*_CIND_KEY, "is_cind"), freq_bdep),
        "cand:21",
    )

    # ---- stage 4 candidates: 2/2 — 2/1s sharing a dep (G9/G8).  The
    # seed is the SUPPORT-PRUNED 2/1 candidate class (exact ∪ inferred),
    # NOT the verified class (r12; guide §1.2 "remove passes"): a true
    # 2/2 (dep ⊆ r1∧r2) forces (dep ⊆ r1) and (dep ⊆ r2) both true, and
    # a true 2/1 always survives the support prunes, so seeding from the
    # pruned-but-unverified class generates every true 2/2 candidate the
    # old verified seed did.  The extras — candidates with a false
    # parent — die in the exact verification; extra TRUE 2/2s admitted
    # by skipping the old J7 pre-prune are non-minimal by J7's own
    # criterion and their 1/2 killer is in the verified union (same
    # argument as the consolidated 2/1 merge above), so
    # ``remove_implied_cinds`` removes them and the post-minimality
    # contract is unchanged.  What this buys: the 2/2 class no longer
    # waits on the 1/2+2/1 verification, so ONE combined evidence join
    # verifies all three classes (the second _verify_candidates call —
    # measured 3.7-7.7s of fixed cost for a 4-candidate class at
    # sf0.1 — and the all21 barrier disappear from the serial chain).
    all21_seed = _materialize(
        _support_pruned(cand21.select(*_CIND_KEY).distinct(), freq_h)
        .select(*_CIND_KEY),
        "all21_seed",
    )
    # Trivial refinements (G8): a 2/2 ref may refine one of the dep's
    # own unary generalizations (dep_b ⊆ gen(dep_b) is structural, so
    # no 2/1 row supplies it) — augment the ref pool with each dep's
    # generalization captures.
    ident21 = []
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        for ucode, value_index in gens:
            kept = F.col("dep_v1") if value_index == 1 else F.col("dep_v2")
            ident21.append(
                all21_seed.select(*_DEP_KEY)
                .distinct()
                .filter(F.col("dep_code") == bcode)
                .select(
                    *_DEP_KEY,
                    F.lit(ucode).alias("ref_code"),
                    kept.alias("ref_v1"),
                )
            )
    refs22 = all21_seed.select(*_DEP_KEY, "ref_code", "ref_v1")
    for ident in ident21:
        refs22 = refs22.unionByName(ident)
    s1 = refs22.select(
        *_DEP_KEY, F.col("ref_code").alias("r1_code"), F.col("ref_v1").alias("r1_v1")
    )
    s2 = refs22.select(
        *_DEP_KEY, F.col("ref_code").alias("r2_code"), F.col("ref_v1").alias("r2_v1")
    )
    cand22 = (
        s1.join(s2, on=_DEP_KEY)
        .filter(_merge_ok(F.col("r1_code"), F.col("r2_code")))
        .select(
            *_DEP_KEY,
            F.col("r1_code").bitwiseOR(F.col("r2_code")).alias("ref_code"),
            F.col("r1_v1").alias("ref_v1"),
            F.col("r2_v1").alias("ref_v2"),
        )
    )
    hot_masks = _mask_fut.result()
    _bg.shutdown()

    # ---- ONE combined evidence join for the 1/2 + 2/1 + 2/2 candidate
    # classes: all three are known before any verification (the 2/2
    # seed above), and each _verify_candidates call pays fixed costs
    # (two capf semi-join scans, candidate checkpoint + gate jobs, the
    # jv co-occurrence shuffle) that dwarf the marginal rows — r11
    # measured two ~15s calls → one ~13s call when 1/2+2/1 merged; r12
    # folds 2/2 in as well.  Only ``exact`` 2/1 candidates verify (the
    # reference verifies proper × proper merges only); the classes are
    # split back by dep/ref arity, which determines the class uniquely.
    unary_dep = F.col("dep_code").isin(list(cc.VALID_UNARY_CODES))
    unary_ref = F.col("ref_code").isin(list(cc.VALID_UNARY_CODES))
    verified = _materialize(
        _verify_candidates(
            capf,
            cand12.unionByName(cand21.filter("exact").select(*_CIND_KEY))
            .unionByName(cand22),
            hot_values,
            hot_masks,
            freq_h,
            hot_overflow,
        ),
        "cind12_21_22",
    )
    cind12 = verified.filter(unary_dep)
    cind21 = verified.filter(~unary_dep & unary_ref)
    cind22 = verified.filter(~unary_dep & ~unary_ref)

    # ---- union + minimality (shared with the all-at-once engine)
    out = (
        cind11.unionByName(cind12)
        .unionByName(cind21)
        .unionByName(cind22)
        .filter(~structural_implies())
    )
    minimal = remove_implied_cinds(out)
    dcap_h.unpersist()
    capf.unpersist()
    freq_h.unpersist()
    frequent.unpersist()
    return minimal

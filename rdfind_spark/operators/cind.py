"""The relational CIND core (SURVEY.md §3.3).

Replaces the reference's join-line machinery (``UnionJoinCandidates`` →
``CreateAllCindCandidates`` → ``IntersectCindCandidates``, see SURVEY §2.3
J1 / §2.5 G1 / §2.4 A5) with pure equi-joins + hash aggregates that
Catalyst plans natively:

    dcap     — distinct (join_value, capture)
    supports — per-capture distinct-value count (= CIND support)
    frequent — supports ≥ min_support  (lossless pruning: any CIND side
               must have support ≥ dep support ≥ min_support)
    overlaps — unordered co-occurrence counts via self-join on join_value
    cinds    — overlap == dep support  ⇒  dep ⊆ ref  (both directions)

Scale notes (100 TB posture): the only shuffles are the distinct, the
per-capture count, and the join_value self-join; frequency pruning runs
*before* the quadratic pair stage, which is what bounds group sizes (the
reference fights the same blow-up with Bloom filters + custom
rebalancing, ``programs/RDFind.scala:404-444``).  Hub join lines go
through the one hot-line kernel below (``hot_line_census``,
``hot_line_masks``, ``hot_line_overlap``, ``cold_line_join``), which the
staged engine shares.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.captures import capture_candidates
from rdfind_spark.util import materialize, salted_join

CAPTURE_KEY = ["code", "v1", "v2"]

# Salting parameters for the pair self-join: join lines with more than
# HOT_LINE_K frequent captures are split into N_SALT hash buckets (see
# capture_overlaps).  A line of HOT_LINE_K captures yields ≤ HOT_LINE_K²
# ≈ 260k pairs from one key — roughly the point where one task's share
# of the product outweighs the replication cost of salting.
HOT_LINE_K = 512
N_SALT = 32

# Cap on the number of hot lines handled by the bitmask decomposition:
# each masked line costs one bit per capture (n/64 mask columns) and one
# driver-collected tuple, so a pathological hub distribution (tens of
# thousands of hot lines) would mean hundreds of mask columns and an
# unbounded collect.  Beyond the cap, only the MAX_HOT_MASK *hottest*
# lines get masks; the overflow lines stay exact through salted joins
# (graceful degradation, no driver blow-up).
MAX_HOT_MASK = 4096

JV = ["jv1", "jv2"]


def _pair_parallelism(df: DataFrame) -> int:
    """Partition count for the pair-explosion stages: a multiple of the
    session's shuffle parallelism, since join output is 10-100× its
    input."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")) * 4


def distinct_captures(candidates: DataFrame) -> DataFrame:
    return candidates.distinct()


def capture_supports(dcap: DataFrame) -> DataFrame:
    """support = number of distinct join values of the capture."""
    return dcap.groupBy(*CAPTURE_KEY).agg(F.count("*").alias("support"))


def frequent_captures(supports: DataFrame, min_support: int) -> DataFrame:
    return supports.filter(F.col("support") >= min_support)


def _with_capture_hash(df: DataFrame) -> DataFrame:
    """Attach a 96-bit capture id (h1: xxhash64, h2: murmur3) — the
    relational form of the reference's dictionary compression
    (``operators/ConditionCompressor.scala:13-35``): the quadratic pair
    stage runs on fixed-width integer keys instead of long URI strings.
    96 bits make a silent collision negligible (~n²/2⁹⁷); see the
    collision census in tests."""
    return df.select(
        "*",
        F.xxhash64("code", "v1", "v2").alias("h1"),
        F.hash("code", "v1", "v2").alias("h2"),
    )


def assert_hash_injective(cand: DataFrame) -> None:
    """Loud-failure guard for the 96-bit dictionary compression: the
    hashed pipeline silently merges two captures (or two join values)
    if their (xxhash64, murmur3) pairs collide — support counts corrupt
    and ``F.first`` restores an arbitrary colliding string.  At
    ~n²/2⁹⁷ that's negligible, but "negligible" should fail loudly,
    not corrupt: this one-pass census compares exact vs hashed distinct
    counts and raises on any collision.  Run in debug/test jobs or by
    setting ``RDFIND_SPARK_CHECK_HASHES=1`` (adds one full aggregation
    pass over the capture candidates — not for production hot paths)."""
    row = cand.select(
        F.count_distinct(F.col("join_value")).alias("nv"),
        F.count_distinct(
            F.xxhash64("join_value"), F.hash("join_value")
        ).alias("nvh"),
        F.count_distinct(F.col("code"), F.col("v1"), F.col("v2")).alias("nc"),
        F.count_distinct(
            F.xxhash64("code", "v1", "v2"), F.hash("code", "v1", "v2")
        ).alias("nch"),
    ).collect()[0]
    if row.nv != row.nvh:
        raise RuntimeError(
            f"96-bit join-value hash collision: {row.nv} distinct values "
            f"but {row.nvh} distinct (jv1, jv2) pairs"
        )
    if row.nc != row.nch:
        raise RuntimeError(
            f"96-bit capture-key hash collision: {row.nc} distinct captures "
            f"but {row.nch} distinct (h1, h2) pairs"
        )


def pruned_captures(dcap: DataFrame, frequent: DataFrame) -> DataFrame:
    """Keep only capture instances whose capture is frequent, compacted
    to ``(jv1, jv2, h1, h2, support)`` — the join value, like the
    capture key, carried as a 96-bit hash pair so every downstream
    shuffle moves fixed-width integers instead of URI strings.  The
    frequent side is result-sized (bounded by #distinct-values /
    min_support), so this is a broadcast-able big-to-small join: the
    bulk ``dcap`` side is never shuffled here (the reference ships the
    same information as a broadcast Bloom filter,
    ``programs/RDFind.scala:374-399``)."""
    fh = _with_capture_hash(frequent).select(*CAPTURE_KEY, "support", "h1", "h2")
    return dcap.join(F.broadcast(fh), on=CAPTURE_KEY).select(
        F.xxhash64("join_value").alias("jv1"),
        F.hash("join_value").alias("jv2"),
        "h1",
        "h2",
        "support",
    )


# Bloom-sketch parameters for the approximate-then-verify path
# (strategy 2): bits per capture value-set sketch, as 64-bit words.
SKETCH_WORDS = 4  # 256 bits


def capture_value_sketches(capf: DataFrame) -> DataFrame:
    """Per-capture Bloom bitmask of its join-value set: 256 bits, one
    hash function, built as a JVM-side ``bit_or`` aggregate.  The
    Spark-native form of the reference's per-capture-set Bloom filters
    (``data/ApproximateCindSet.scala:8-12``, built in
    ``CreateAllHalfApproximateCindCandidates.scala:21-137``): value-set
    inclusion a ⊆ b implies bits(a) & ~bits(b) == 0, so the bitmask
    test admits false positives but never drops a true inclusion."""
    pos = F.pmod(F.xxhash64("jv1", "jv2"), F.lit(64 * SKETCH_WORDS))
    word = F.floor(pos / 64)
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), pmod(xxhash64(jv1, jv2), {64 * SKETCH_WORDS}) % 64)")
    return capf.groupBy("h1", "h2").agg(
        *[
            F.bit_or(F.when(word == w, bit).otherwise(F.lit(0))).alias(f"s{w}")
            for w in range(SKETCH_WORDS)
        ]
    )


def _sketch_contained(prefix_in: str, prefix_out: str) -> Column:
    """bits(in) ⊆ bits(out) across all sketch words."""
    return reduce(
        lambda x, y: x & y,
        [
            F.col(f"{prefix_in}_s{w}").bitwiseAND(
                F.bitwise_not(F.col(f"{prefix_out}_s{w}"))
            )
            == 0
            for w in range(SKETCH_WORDS)
        ],
    )


def _apply_sketch_filter(pairs: DataFrame, sketches: DataFrame) -> DataFrame:
    """Drop pair rows whose captures cannot be in an inclusion in either
    direction, per the broadcast value-set sketches — BEFORE the overlap
    aggregate, so the shuffle+count only sees candidate pairs (the
    reference's approximate round; the exact count afterwards is the
    verify round).  Exact for CIND extraction: the test has no false
    negatives.  Scale bound: the broadcast is #frequent × 44 B — beyond
    ~50M frequent captures switch back to strategy 0/1 (or attach
    sketches with a shuffle join)."""
    sa = sketches.select(
        F.col("h1").alias("a_h1"),
        F.col("h2").alias("a_h2"),
        *[F.col(f"s{w}").alias(f"a_s{w}") for w in range(SKETCH_WORDS)],
    )
    sb = sketches.select(
        F.col("h1").alias("b_h1"),
        F.col("h2").alias("b_h2"),
        *[F.col(f"s{w}").alias(f"b_s{w}") for w in range(SKETCH_WORDS)],
    )
    out = (
        pairs.join(F.broadcast(sa), on=["a_h1", "a_h2"])
        .join(F.broadcast(sb), on=["b_h1", "b_h2"])
        .filter(_sketch_contained("a", "b") | _sketch_contained("b", "a"))
    )
    return out.drop(
        *[f"{s}_s{w}" for s in ("a", "b") for w in range(SKETCH_WORDS)]
    )


# ---- the hot-line kernel: the one hub-line mechanism of both CIND
# engines (the reference's join-line rebalancing,
# ``operators/AssignJoinLineRebalancing.scala:15-65``).  A join line is
# hot when more than HOT_LINE_K frequent captures share it.  The
# MAX_HOT_MASK hottest hot lines are named on the driver and encoded as
# per-capture 64-bit membership masks, so a pair's hot-line overlap is
# a popcount instead of a k² join; hot lines past the cap (the
# overflow) are never collected and stay exact through salted joins.


def hot_line_census(capf: DataFrame) -> tuple[list, DataFrame | None]:
    """The hot lines of ``capf`` as ``(hot_values, overflow)``.

    ``hot_values``: the (jv1, jv2) keys of at most MAX_HOT_MASK hot
    lines, hottest first with a key tie-break, so reruns mask the same
    lines — a bounded driver collect.  ``overflow``: a lazy frame of the
    remaining hot lines' keys when the cap is reached, else None."""
    hot_sizes = (
        capf.groupBy(*JV)
        .agg(F.count("*").alias("line_k"))
        .filter(F.col("line_k") > HOT_LINE_K)
    )
    hot_values = [
        (r.jv1, r.jv2)
        for r in hot_sizes.orderBy(F.col("line_k").desc(), *JV)
        .limit(MAX_HOT_MASK)
        .select(*JV)
        .collect()
    ]
    if len(hot_values) < MAX_HOT_MASK:
        return hot_values, None
    overflow = hot_sizes.select(*JV).join(
        F.broadcast(_hot_keys(capf, hot_values)), on=JV, how="left_anti"
    )
    return hot_values, overflow


def _hot_index(df: DataFrame, hot_values: list) -> DataFrame:
    """(jv1, jv2, idx): each named hot line with its mask bit index."""
    return df.sparkSession.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(hot_values)],
        "jv1 long, jv2 int, idx int",
    )


def _hot_keys(df: DataFrame, hot_values: list) -> DataFrame:
    return _hot_index(df, hot_values).select(*JV)


def _mask_words(hot_values: list) -> int:
    return (len(hot_values) + 63) // 64


def hot_line_masks(capf: DataFrame, hot_values: list) -> DataFrame:
    """Per-capture membership bitmask over ``hot_values`` (lazy): one
    row ``(h1, h2, m0, m1, ...)`` per capture on a hot line, bit
    ``i % 64`` of word ``m{i // 64}`` set when the capture occurs on hot
    line ``i``.  Sized by the summed hot line widths, so broadcastable;
    callers materialize it once for all of its consumers."""
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), idx % 64)")
    return (
        capf.join(F.broadcast(_hot_index(capf, hot_values)), on=JV)
        .groupBy("h1", "h2")
        .agg(
            *[
                F.bit_or(
                    F.when(F.floor(F.col("idx") / 64) == c, bit).otherwise(F.lit(0))
                ).alias(f"m{c}")
                for c in range(_mask_words(hot_values))
            ]
        )
    )


def masks_as(masks: DataFrame, side: str) -> DataFrame:
    """The mask table keyed as one side of a pair: every column renamed
    to ``{side}_h1``, ``{side}_h2``, ``{side}_m{c}``."""
    return masks.select(*[F.col(c).alias(f"{side}_{c}") for c in masks.columns])


def _popcount(words) -> Column:
    return reduce(lambda x, y: x + y, [F.bit_count(w) for w in words])


def hot_line_overlap(a: str, b: str, hot_values: list) -> Column:
    """Number of hot lines the pair's two ``masks_as`` sides share: the
    popcount of their mask AND.  A side left-joined without a mask row
    is on no hot line."""
    return _popcount(
        F.coalesce(F.col(f"{a}_m{c}"), F.lit(0)).bitwiseAND(
            F.coalesce(F.col(f"{b}_m{c}"), F.lit(0))
        )
        for c in range(_mask_words(hot_values))
    )


def line_product_is_safe(n_a: int, n_b: int) -> bool:
    """The verify hub gate: a join between ``n_a`` distinct captures on
    one side and ``n_b`` on the other pairs at most ``n_a × n_b`` rows
    on any line, so when that stays within HOT_LINE_K² no line can melt
    a task and the plain join is safe."""
    return n_a * n_b <= HOT_LINE_K * HOT_LINE_K


def cold_line_join(
    a: DataFrame,
    b: DataFrame,
    hot_values: list,
    overflow: DataFrame | None,
) -> DataFrame:
    """Bipartite equi-join of two capture-instance sides on the join
    value, over cold lines only: the masked ``hot_values`` lines are
    left out (their share is ``hot_line_overlap``), and the ``overflow``
    lines go through ``util.salted_join`` — ``a`` rows salted, ``b``
    rows replicated N_SALT ways — so their k_a × k_b product spreads
    over N_SALT join keys instead of one task.  Per-line counts add, so
    the union of the two streams is exact."""
    hot = F.broadcast(_hot_keys(a, hot_values))
    a = a.join(hot, on=JV, how="left_anti")
    b = b.join(hot, on=JV, how="left_anti")
    if overflow is None:
        return a.join(b, on=JV)
    ovf = F.broadcast(overflow.select(*JV))
    narrow = a.join(ovf, on=JV, how="left_anti").join(
        b.join(ovf, on=JV, how="left_anti"), on=JV
    )
    wide = salted_join(
        a.join(ovf, on=JV, how="left_semi"),
        b.join(ovf, on=JV, how="left_semi"),
        on=JV,
        salt=N_SALT,
    )
    return narrow.unionByName(wide)


def capture_overlaps(
    capf: DataFrame,
    frequent: DataFrame,
    min_overlap: int = 1,
    sketches: DataFrame | None = None,
    hot_values: list | None = None,
    hot_overflow: DataFrame | None = None,
) -> DataFrame:
    """Unordered pairwise overlap counts: for captures a < b (by key
    order), the number of join values where both occur.  Overlap is
    symmetric, so each unordered pair is counted once (the reference's
    balanced pair emission, ``CreateUnaryUnaryOverlapCandidates``,
    generalized to all arities).

    The quadratic pair join + aggregate run entirely on the compact
    hashed keys from ``pruned_captures`` — fixed-width UnsafeRows keep
    the aggregation hash map small and make spill sort cheap (string
    keys here previously caused sort-based-agg fallback and a >10×
    slowdown).  Strings are restored afterwards from the result-sized
    ``frequent`` table, and each pair is canonicalized to a < b by
    capture key so output is independent of hash values.

    ``min_overlap``: a CIND requires ``overlap == dep_support >=
    min_support``, so pairs rarer than min_support can never produce one
    — filtering them inside the aggregate drops the long tail (the vast
    majority of pairs co-occur only a handful of times) before anything
    downstream sees it.

    Hub join lines (a value shared by k captures) produce k² pairs out
    of ONE join key; a plain equi-join puts that entire product in a
    single task (AQE skew-join can't help: the *input* bytes of the hub
    key are tiny, the blow-up is in join output).  This is the problem
    the reference's whole rebalancing subsystem exists for
    (``operators/AssignJoinLineRebalancing.scala:15-65``).  Mitigation,
    chosen at runtime (this makes the function *eager*: it runs the
    small ``hot_line_census`` job over capf to find hot lines):

    * With hot lines present, the bitmask decomposition (exact in EVERY
      regime, see ``_cold_pair_counts_with_hot_masks``): pairs are
      counted over cold lines only, each pair's exact hot-line
      contribution is added back from broadcast per-capture *bitmasks*
      (``hot_line_overlap``), and the rare pairs living exclusively in
      hot lines are recovered from the tiny set of captures present in
      >= min_overlap distinct hot lines — the hub k² explosion is never
      materialized (measured 7× at a 2× scale probe vs falling back to
      a salted join over everything).  This is the reference's
      two-round approximate-then-verify pattern
      (``plan/LateBBTraversalStrategy``) made exact.
    * The salted triangle self-join (``_salted_pair_counts``: hot-line
      captures hash-bucketed into N_SALT groups spreading the k²
      product over N_SALT(N_SALT+1)/2 join keys) remains as the
      enumerator for the deep hot-only capture subset above.

    ``hot_values``/``hot_overflow``: a caller that already censused a
    SUPERSET of this input's hot lines (the staged engine's shared
    full-line census) passes it here to skip the census job — safe
    because the decomposition is exact for any hot set: lines named hot
    are mask-counted, everything else flows through the cold/salted
    paths.
    """
    if hot_values is None:
        hot_values, hot_overflow = hot_line_census(capf)
    if hot_values:
        ov = _cold_pair_counts_with_hot_masks(
            capf, hot_values, min_overlap, sketches, overflow=hot_overflow
        )
    else:
        # no hot lines at all — every line is narrow, pairs come from
        # the grouped line arrays (no self-join, no salting machinery)
        ov = _grouped_pair_counts(capf, min_overlap, sketches)
    # ov is already unique per pair: the salted path ends in a
    # groupBy(pair), and the decomposition dedupes its part1 ∪ part2
    # union on the fixed-width hash keys before any strings exist — so
    # no distinct on the restored (long URI string) table is needed
    # (that string-key distinct measured as a significant share of
    # capture_overlaps at sf0.1).
    return _restore_capture_keys(ov, frequent)


def _cold_pair_counts_with_hot_masks(
    capf: DataFrame,
    hot_values: list,
    min_overlap: int,
    sketches: DataFrame | None = None,
    overflow: DataFrame | None = None,
) -> DataFrame:
    """Pair overlap counts = cold-line pair counts + per-pair hot-line
    contribution from broadcast bitmasks (see capture_overlaps).

    Exact for ANY n_hot vs min_overlap relation:

    * pairs with ≥1 cold co-occurrence are enumerated by the cold join
      (kept when cold_count >= min_overlap - n_hot, the weakest bound a
      qualifying pair can satisfy);
    * pairs living ONLY in hot lines can qualify only if BOTH captures
      sit in >= min_overlap distinct hot lines ("deep" captures, found
      from the mask popcounts — usually none, always few).  Their pairs
      are enumerated by a salted join restricted to deep-capture rows in
      hot lines, with the same mask-based totals.

    Both sources emit (pair, cold+hot total); overlaps of a pair agree,
    so the union is deduplicated downstream after key restoration.  This
    keeps the hub k² unmaterialized even when hot lines outnumber
    min_overlap (where the old gate fell back to the salted join over
    everything: measured 22× slower at a 2× scale probe)."""
    n_hot = len(hot_values)
    # masks feeds THREE consumers (the two side-renamed broadcasts and
    # the deep popcount probe) whose plans differ only in aliases — too
    # different for Spark's exchange reuse, so without pinning it the
    # hot-membership aggregate re-scans capf once per consumer (r11
    # stage profile: two extra full capf scans per query).  It is
    # broadcast-sized by construction (only hot-line captures), so the
    # checkpoint is cheap.
    masks = materialize(hot_line_masks(capf, hot_values))
    hot_keys = F.broadcast(_hot_keys(capf, hot_values))
    cold = capf.join(hot_keys, on=JV, how="left_anti")
    pkey = ["a_h1", "a_h2", "b_h1", "b_h2"]
    cold_floor = max(1, min_overlap - n_hot)
    if overflow is not None:
        # Mask-cap overflow: hot lines beyond MAX_HOT_MASK stay in
        # the "cold" side but their k² pair product must not land
        # on one task — enumerate all cold pairs through the salted
        # triangle join with the overflow lines as its hot set
        # (exact counts, same semantics as the plain join below).
        ov_cold = _salted_pair_counts(
            cold, overflow, cold_floor, sketches
        ).withColumnRenamed("overlap", "cold_overlap")
    else:
        # Cold lines are all narrow — emit their pairs from grouped
        # line arrays instead of self-joining (_grouped_pair_counts).
        ov_cold = _grouped_pair_counts(
            cold, cold_floor, sketches
        ).withColumnRenamed("overlap", "cold_overlap")
    with_masks = ov_cold.join(
        F.broadcast(masks_as(masks, "a")), on=["a_h1", "a_h2"], how="left"
    ).join(F.broadcast(masks_as(masks, "b")), on=["b_h1", "b_h2"], how="left")
    part1 = with_masks.select(
        *pkey,
        (F.col("cold_overlap") + hot_line_overlap("a", "b", hot_values)).alias(
            "overlap"
        ),
    ).filter(F.col("overlap") >= min_overlap)
    if n_hot < min_overlap:
        # no pair can qualify on hot lines alone — part1 is complete
        return part1
    # Hot-only qualifiers: cold_count = 0 is the only miss class (a pair
    # with 0 < cold < threshold tops out at min_overlap - 1; see
    # docstring), and such a pair needs BOTH captures in >= min_overlap
    # distinct hot lines.  Those "deep" captures are read off the mask
    # popcounts; their pairs are enumerated with the salted join over
    # hot-line rows only, then completed with targeted cold counts so
    # totals agree with part1 on any pair both sources emit.
    popcnt = _popcount(F.col(f"m{c}") for c in range(_mask_words(hot_values)))
    deep = materialize(masks.filter(popcnt >= min_overlap).select("h1", "h2"))
    if deep.count() == 0:
        return part1
    hot_rows = capf.join(hot_keys, on=JV).join(
        F.broadcast(deep), on=["h1", "h2"], how="left_semi"
    )
    hp = _salted_pair_counts(hot_rows, hot_values, 1, sketches).select(
        *pkey, F.col("overlap").alias("hot_overlap")
    )
    deep_cold = cold.join(F.broadcast(deep), on=["h1", "h2"], how="left_semi")
    ca = deep_cold.select(
        "jv1", "jv2", F.col("h1").alias("a_h1"), F.col("h2").alias("a_h2")
    )
    cb = deep_cold.select(
        "jv1", "jv2", F.col("h1").alias("b_h1"), F.col("h2").alias("b_h2")
    )
    cold2 = (
        ca.join(cb, on=["jv1", "jv2"])
        .join(F.broadcast(hp.select(*pkey)), on=pkey, how="left_semi")
        .groupBy(*pkey)
        .agg(F.count("*").alias("cold2"))
    )
    part2 = (
        hp.join(cold2, on=pkey, how="left")
        .select(
            *pkey,
            (F.col("hot_overlap") + F.coalesce(F.col("cold2"), F.lit(0))).alias(
                "overlap"
            ),
        )
        .filter(F.col("overlap") >= min_overlap)
    )
    # A pair can be emitted by BOTH sources (its totals agree, see
    # docstring) — dedupe here on the fixed-width hash keys, while no
    # capture strings are attached yet.  The two sources orient pairs
    # differently (part1: hash-lex from the plain cold join — or
    # (tb, hash)-lex in the overflow branch; part2: (tb, hash)-lex from
    # the salted triangle join), so the SAME unordered pair can arrive
    # with swapped key columns and dropDuplicates alone would keep both
    # rows (observed: 1,818 duplicate celebrity pairs on the Zipf
    # fixture at sf0.01).  Normalize every row to hash-lex orientation
    # first — overlap is symmetric, so the swap is payload-free.
    both = part1.unionByName(part2)
    swap = F.struct("a_h1", "a_h2") > F.struct("b_h1", "b_h2")
    normalized = both.select(
        F.when(swap, F.col("b_h1")).otherwise(F.col("a_h1")).alias("a_h1"),
        F.when(swap, F.col("b_h2")).otherwise(F.col("a_h2")).alias("a_h2"),
        F.when(swap, F.col("a_h1")).otherwise(F.col("b_h1")).alias("b_h1"),
        F.when(swap, F.col("a_h2")).otherwise(F.col("b_h2")).alias("b_h2"),
        "overlap",
    )
    return normalized.dropDuplicates(pkey)


def _grouped_pair_counts(
    capf: DataFrame,
    min_overlap: int,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """Pair overlap counts for a capture table whose join lines are all
    narrow (<= HOT_LINE_K captures — the cold side of the hot/cold
    decomposition, or everything when no line is hot): group each line
    into a sorted capture array and EMIT its C(k,2) pairs directly with
    a higher-order transform, instead of self-joining the table.

    vs the self-join shape this replaces (guide §1.2 — fix the
    algorithm before the constants): the join shuffled the table twice
    (both aliased sides), built and probed a per-partition hash table
    over millions of rows, and re-derived each line's pair set through
    probe + struct(a) < struct(b) filtering; here ONE exchange groups
    the line (complete-mode aggregate — the child repartition already
    satisfies the distribution), and pair emission is pure codegen over
    the array.  The sorted array makes the orientation globally
    (h1, h2)-lexicographic — exactly the struct< canonicalization of
    the join it replaces, so every downstream consumer (mask add,
    part1/part2 dedup, restore) sees identical keys.  Line width is
    bounded by HOT_LINE_K by construction, so the per-row explosion is
    <= ~130k pairs — a streaming generate, never a task-melting hub
    (those route through the mask/salt machinery before this runs)."""
    n_pair = _pair_parallelism(capf)
    lines = (
        capf.select("jv1", "jv2", "h1", "h2")
        .repartition(n_pair, "jv1", "jv2")
        .groupBy("jv1", "jv2")
        .agg(F.sort_array(F.collect_list(F.struct("h1", "h2"))).alias("caps"))
        .filter(F.size("caps") >= 2)
    )
    pairs = lines.select(
        F.explode(
            F.expr(
                "flatten(transform(caps, (x, i) -> "
                "transform(slice(caps, i + 2, size(caps) - 1 - i), y -> "
                "named_struct('a_h1', x.h1, 'a_h2', x.h2, "
                "'b_h1', y.h1, 'b_h2', y.h2))))"
            )
        ).alias("p")
    ).select("p.*")
    if sketches is not None:
        pairs = _apply_sketch_filter(pairs, sketches)
    pkey = ["a_h1", "a_h2", "b_h1", "b_h2"]
    ov = (
        pairs.select(*pkey)
        .repartition(n_pair, *pkey)
        .groupBy(*pkey)
        .agg(F.count("*").alias("overlap"))
    )
    if min_overlap > 1:
        ov = ov.filter(F.col("overlap") >= min_overlap)
    return ov


def _salted_pair_counts(
    capf: DataFrame,
    hot_values: list | DataFrame,
    min_overlap: int,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """Pair overlap counts via the salted triangle self-join (see
    capture_overlaps).  ``hot_values`` may be a driver-side list of
    (jv1, jv2) tuples or a DataFrame with those columns (the mask-cap
    overflow set, which is deliberately never collected)."""
    if isinstance(hot_values, DataFrame):
        hot_df = hot_values.select(*JV)
    else:
        hot_df = _hot_keys(capf, hot_values)
    hot = hot_df.select(*JV, F.lit(True).alias("is_hot"))
    # Cell (i, j), i <= j, joins bucket-i captures (side A) with
    # bucket-j captures (side B): side A is replicated to cells (b,
    # b..N-1), side B to cells (0..b, b).  Off-diagonal cells produce
    # each unordered pair in exactly one orientation by construction
    # (bucket is a pure function of the capture hash, so the
    # orientation of a given pair is globally consistent); only
    # diagonal cells need the a < b hash filter.  This halves both the
    # join output and the replication factor vs. full-square salting.
    # tb — the capture's *intrinsic* bucket, a pure function of its
    # hash, computed for every row (hot or not).  Pair orientation is
    # globally (tb, h1, h2)-lexicographic, so a pair co-occurring in
    # both a hot and a cold line groups under the same key: in hot
    # cross-bucket cells the lower-tb capture is side A by
    # construction, and the explicit filter below enforces the same
    # order in diagonal and cold cells.
    salted = (
        capf.join(F.broadcast(hot), on=["jv1", "jv2"], how="left")
        .withColumn("tb", F.pmod(F.hash("h1", "h2"), F.lit(N_SALT)))
        .withColumn(
            "bucket", F.when(F.col("is_hot"), F.col("tb")).otherwise(F.lit(0))
        )
    )
    # Explicit repartition on the salted join key: (a) pins the task
    # count of the pair-generation stage — AQE would otherwise coalesce
    # it by *input* bytes (a few hundred MB) to a handful of tasks,
    # blind to the k-squared join *output* behind each key; (b) both
    # sides end up hash-partitioned identically, so the join needs no
    # further exchange (colocated).
    n_pair = _pair_parallelism(capf)
    skey = ["jv1", "jv2", "ba", "bb"]
    a = salted.select(
        "jv1",
        "jv2",
        F.col("bucket").alias("ba"),
        F.explode(
            F.when(
                F.col("is_hot"), F.sequence(F.col("bucket"), F.lit(N_SALT - 1))
            ).otherwise(F.array(F.lit(0)))
        ).alias("bb"),
        F.col("tb").alias("a_tb"),
        F.col("h1").alias("a_h1"),
        F.col("h2").alias("a_h2"),
    ).repartition(n_pair, *skey)
    b = salted.select(
        "jv1",
        "jv2",
        F.explode(
            F.when(
                F.col("is_hot"), F.sequence(F.lit(0), F.col("bucket"))
            ).otherwise(F.array(F.lit(0)))
        ).alias("ba"),
        F.col("bucket").alias("bb"),
        F.col("tb").alias("b_tb"),
        F.col("h1").alias("b_h1"),
        F.col("h2").alias("b_h2"),
    ).repartition(n_pair, *skey)
    # shuffle_hash hint: Catalyst's size estimate for the exploded capf
    # relation is far below reality, so without the hint it broadcasts
    # the whole side (driver-side hashed-relation build of the *entire*
    # capture table — unusable at scale).
    pairs = a.hint("shuffle_hash").join(b.hint("shuffle_hash"), on=skey).filter(
        F.struct("a_tb", "a_h1", "a_h2") < F.struct("b_tb", "b_h1", "b_h2")
    )
    if sketches is not None:
        pairs = _apply_sketch_filter(pairs, sketches)
    # Pair counting WITHOUT map-side partial aggregation: pair keys are
    # mostly unique (the long tail), so partial aggregation shuffles the
    # same row count anyway but first burns a full hash-map build +
    # spill-sort per task (measured: 700M partial rows, 13 GB spill).
    # Repartitioning by the pair key first makes the child partitioning
    # satisfy the aggregation's distribution requirement, so Catalyst
    # plans a single complete-mode HashAggregate.  The 4-integer key
    # (supports re-attached by the restore joins below) keeps shuffle
    # rows fixed-width and 28 bytes.
    pkey = ["a_h1", "a_h2", "b_h1", "b_h2"]
    ov = (
        pairs.select(*pkey)
        .repartition(n_pair, *pkey)
        .groupBy(*pkey)
        .agg(F.count("*").alias("overlap"))
    )
    if min_overlap > 1:
        ov = ov.filter(F.col("overlap") >= min_overlap)
    return ov


def _restore_capture_keys(ov: DataFrame, frequent: DataFrame) -> DataFrame:
    """Replace hashed pair keys by the capture keys + supports
    (result-sized broadcast joins), canonicalizing each pair to a < b by
    capture key (hash order is internal)."""
    fh = _with_capture_hash(frequent)
    fa = fh.select(
        F.col("h1").alias("a_h1"),
        F.col("h2").alias("a_h2"),
        F.col("code").alias("a_code"),
        F.col("v1").alias("a_v1"),
        F.col("v2").alias("a_v2"),
        F.col("support").alias("a_support"),
    )
    fb = fh.select(
        F.col("h1").alias("b_h1"),
        F.col("h2").alias("b_h2"),
        F.col("code").alias("b_code"),
        F.col("v1").alias("b_v1"),
        F.col("v2").alias("b_v2"),
        F.col("support").alias("b_support"),
    )
    out = ov.join(F.broadcast(fa), on=["a_h1", "a_h2"]).join(
        F.broadcast(fb), on=["b_h1", "b_h2"]
    )
    swap = F.struct("a_code", "a_v1", "a_v2") > F.struct("b_code", "b_v1", "b_v2")
    sides = ("code", "v1", "v2", "support")
    return out.select(
        *[
            F.when(swap, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}")
            for c in sides
        ],
        *[
            F.when(swap, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}")
            for c in sides
        ],
        "overlap",
    )


def _side(cands: DataFrame, dep: str, ref: str) -> DataFrame:
    return cands.filter(F.col("overlap") == F.col(f"{dep}_support")).select(
        F.col(f"{dep}_code").alias("dep_code"),
        F.col(f"{dep}_v1").alias("dep_v1"),
        F.col(f"{dep}_v2").alias("dep_v2"),
        F.col(f"{ref}_code").alias("ref_code"),
        F.col(f"{ref}_v1").alias("ref_v1"),
        F.col(f"{ref}_v2").alias("ref_v2"),
        F.col(f"{dep}_support").alias("support"),
    )


def structural_implies() -> Column:
    """Column predicate: dep ⊆ ref holds *structurally* (trivial CIND) —
    ref equals dep or is one of its unary generalizations with the
    matching value (reference trivial-CIND filter,
    ``programs/RDFind.scala:497-504``)."""
    same = (
        (F.col("dep_code") == F.col("ref_code"))
        & (F.col("dep_v1") == F.col("ref_v1"))
        & (F.col("dep_v2") == F.col("ref_v2"))
    )
    conds = [same]
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        for ucode, value_index in gens:
            kept = F.col("dep_v1") if value_index == 1 else F.col("dep_v2")
            conds.append(
                (F.col("dep_code") == F.lit(bcode))
                & (F.col("ref_code") == F.lit(ucode))
                & (F.col("ref_v1") == kept)
            )
    return reduce(lambda x, y: x | y, conds)


def extract_cinds(cands: DataFrame) -> DataFrame:
    """overlap == support ⇒ inclusion; emit both directions, drop
    trivial (structurally implied) ones."""
    cinds = _side(cands, "a", "b").unionByName(_side(cands, "b", "a"))
    return cinds.filter(~structural_implies())


def _dep_generalization_probe(cinds: DataFrame) -> DataFrame:
    """For each binary-dep CIND, rows keyed by (unary generalization of
    dep, same ref) — the keys a more-general CIND would occupy."""
    probes = []
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        for ucode, value_index in gens:
            kept = F.col("dep_v1") if value_index == 1 else F.col("dep_v2")
            probes.append(
                cinds.filter(F.col("dep_code") == bcode).select(
                    "*",
                    F.lit(ucode).alias("g_code"),
                    kept.alias("g_v1"),
                )
            )
    return reduce(lambda x, y: x.unionByName(y), probes)


def remove_implied_cinds(cinds: DataFrame) -> DataFrame:
    """Minimality: drop CINDs implied by an emitted more-general CIND —
    (a) broader dependent: a unary-dep CIND over a generalization of my
    binary dep with the same ref; (b) narrower referenced: a CIND with
    my dep and a binary ref refining my unary ref.  Mirrors the four
    anti-joins of the reference (``plan/TraversalStrategy.scala:121-168``)
    in two expansions, both against the full emitted set.

    The input is eagerly materialized with its lineage TRUNCATED
    (``localCheckpoint``) first: this function references ``cinds`` a
    dozen times (probe + killer branches), and with plain persist each
    branch still carries a full copy of the upstream pair-join pipeline
    in the logical plan — multi-megabyte plan trees that Catalyst
    re-analyzes and the driver re-stringifies per action.  The CIND set
    is result-sized (orders of magnitude smaller than the data), so
    checkpointing stays cheap at any scale."""
    cinds = materialize(cinds)
    all_cols = cinds.columns
    # The whole pass (6 probe expansions, 2 killer builds, a distinct,
    # a final anti-join) runs over the RESULT-SIZED materialized CIND
    # table; inheriting the session's corpus-sized shuffle.partitions
    # costs hundreds of near-empty tasks per branch (r11 timeline:
    # ~18 s wall on a ~50k-row table).  Pin to the measured size (the
    # loop_shuffle_partitions rule); the count is a cache scan.
    from rdfind_spark.util import loop_shuffle_partitions

    # materialize INSIDE the pinned scope: shuffle.partitions is read
    # at physical-planning time of the executing action, so a lazily
    # returned plan would execute later under the restored session
    # value — the eager checkpoint (result-sized, cheap) is what makes
    # the pin actually govern the pass's shuffles.
    with loop_shuffle_partitions(cinds.sparkSession, cinds.count()):
        pinned = _remove_implied_pinned(cinds, all_cols)
        # introspection-only (no-op unless scripts/dump_plans.py armed
        # the hook): the checkpoint below collapses the final explain,
        # so record the pass's own plan — still inside the pin, so the
        # captured Exchange width is the one that executes.
        from rdfind_spark.util import capture_plan

        capture_plan("minimality", pinned)
        return materialize(pinned)


def _remove_implied_pinned(cinds: DataFrame, all_cols: list) -> DataFrame:

    # (a) binary dep implied by unary-dep CIND with same ref
    killers_a = cinds.select(
        F.col("dep_code").alias("g_code"),
        F.col("dep_v1").alias("g_v1"),
        "ref_code",
        "ref_v1",
        "ref_v2",
    ).filter(F.col("g_code").isin(list(cc.VALID_UNARY_CODES)))
    bad_a = (
        _dep_generalization_probe(cinds)
        .join(killers_a, on=["g_code", "g_v1", "ref_code", "ref_v1", "ref_v2"], how="left_semi")
        .select(*all_cols)
    )

    # (b) unary ref implied by binary-ref CIND with same dep
    killer_keys_b = []
    for bcode, gens in cc.GENERALIZATION_MAP.items():
        for ucode, value_index in gens:
            kept = F.col("ref_v1") if value_index == 1 else F.col("ref_v2")
            killer_keys_b.append(
                cinds.filter(F.col("ref_code") == bcode).select(
                    F.col("dep_code").alias("k_dep_code"),
                    F.col("dep_v1").alias("k_dep_v1"),
                    F.col("dep_v2").alias("k_dep_v2"),
                    F.lit(ucode).alias("k_ref_code"),
                    kept.alias("k_ref_v1"),
                )
            )
    killers_b = reduce(lambda x, y: x.unionByName(y), killer_keys_b)
    bad_b = (
        cinds.filter(F.col("ref_code").isin(list(cc.VALID_UNARY_CODES)))
        .join(
            killers_b,
            on=[
                F.col("dep_code") == F.col("k_dep_code"),
                F.col("dep_v1") == F.col("k_dep_v1"),
                F.col("dep_v2") == F.col("k_dep_v2"),
                F.col("ref_code") == F.col("k_ref_code"),
                F.col("ref_v1") == F.col("k_ref_v1"),
            ],
            how="left_semi",
        )
        .select(*all_cols)
    )

    bad = bad_a.unionByName(bad_b).distinct()
    return cinds.join(bad, on=all_cols, how="left_anti")


def build_capture_tables(
    triples: DataFrame,
    min_support: int = 10,
    projection: str | None = None,
    with_capf: bool = True,
    defer_frequent: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame | None]:
    """The shared hashed-prefix pipeline of every CIND engine entry:
    returns ``(cand, dcap_h, freq_h, frequent, capf)`` with the last
    four PERSISTED (MEMORY_AND_DISK) and built eagerly in dependency
    order.  Callers unpersist what they took when done.

    ``defer_frequent``: kick the ``frequent`` string-recovery build (a
    full second scan of the raw candidates, ~10s at sf0.1 — the single
    most expensive prefix phase) into a background thread instead of
    blocking on it.  The caller's next eager jobs (hot-line census,
    sketch builds — none of which read ``frequent``) then overlap the
    scan; the first job that DOES read it synchronizes naturally via
    the block manager's per-block locks (concurrent materialization of
    a persisted table is coordinated, not duplicated).  Callers still
    consume ``frequent`` before unpersisting it, so the thread can
    never outlive the table.

    ``with_capf=False`` skips the capf build (and returns ``None`` in
    its slot) for consumers that only need the support counts — e.g.
    the ``capture_supports`` query, which stops at ``frequent``.

    The whole bulk pipeline (distinct, support counts, pair join) runs
    on 96-bit hashes of BOTH the join value and the capture key:
    shuffles move fixed-width integer rows instead of URI strings
    (measured 2.5x on the distinct+support stages at sf0.1), and
    strings are recovered once, for the result-sized frequent set only.
    This is the reference's dictionary compression (T7-T9,
    ``operators/ConditionCompressor.scala``) applied wholesale.

    Eager count()s build the stacked caches in dependency order:
    leaving them lazy lets the first downstream job's AQE materialize
    the TableCacheQueryStages CONCURRENTLY, and since each cache's
    build plan contains the previous cache, the builds can
    circular-wait — a race-dependent driver deadlock (observed)."""
    cand = capture_candidates(triples, projection)
    if os.environ.get("RDFIND_SPARK_CHECK_HASHES"):
        assert_hash_injective(cand)
    caph = cand.select(
        F.xxhash64("join_value").alias("jv1"),
        F.hash("join_value").alias("jv2"),
        F.xxhash64("code", "v1", "v2").alias("h1"),
        F.hash("code", "v1", "v2").alias("h2"),
    )
    dcap_h = caph.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    dcap_h.count()
    freq_h = (
        dcap_h.groupBy("h1", "h2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Recover the strings of the (result-sized) frequent captures with
    # one more streaming pass over the raw candidates — a broadcast
    # semi-restriction plus a partial-aggregated dedup: no wide
    # shuffle touches strings.  The dedup is a group-by-all-columns
    # distinct, NOT first()-aggregates keyed on the hashes: a first()
    # over a string column carries a var-length aggregation buffer,
    # which HashAggregate cannot hold, so Catalyst silently planned
    # SortAggregate — both aggregation passes were sorting the full
    # restricted stream (r11 plan audit; guide §1.2 "per-task work").
    # Group keys may be strings, so the distinct hash-aggregates, with
    # the same <=1-row-per-capture-per-partition partial-agg shuffle.
    # ((code, v1, v2) determines support through freq_h, so this is
    # one row per capture, exactly as before.)
    frequent = (
        cand.select(
            "code",
            "v1",
            "v2",
            F.xxhash64("code", "v1", "v2").alias("h1"),
            F.hash("code", "v1", "v2").alias("h2"),
        )
        .join(F.broadcast(freq_h), on=["h1", "h2"])
        .select(*CAPTURE_KEY, "support")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if not with_capf:
        frequent.count()
        return cand, dcap_h, freq_h, frequent, None
    capf = (
        dcap_h.join(F.broadcast(freq_h), on=["h1", "h2"])
        .select("jv1", "jv2", "h1", "h2", "support")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # frequent and capf are independent consumers of the two caches
    # materialized ABOVE (frequent scans the raw candidates, capf reads
    # dcap_h) — build them concurrently from two driver threads.  The
    # AQE cache-deadlock in the docstring needs a cache whose build plan
    # CONTAINS another still-unbuilt cache; here both inputs are already
    # built, so the two jobs share nothing unmaterialized.
    import concurrent.futures

    if defer_frequent:
        import threading

        threading.Thread(target=frequent.count, daemon=True).start()
        capf.count()
        return cand, dcap_h, freq_h, frequent, capf
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(frequent.count)
        f2 = pool.submit(capf.count)
        f1.result()
        f2.result()
    return cand, dcap_h, freq_h, frequent, capf


def frequent_capture_supports(
    triples: DataFrame,
    min_support: int = 10,
    projection: str | None = None,
) -> DataFrame:
    """Standalone frequent-capture support census (A10) as one lazy
    plan with NO persists and NO eager counts — nothing downstream
    reuses the intermediates, so routing through the eager shared
    prefix of ``build_capture_tables`` only adds cache-write cost and
    driver job barriers (measured ~25s vs ~13s at sf0.1).

    Plan shape: (1) supports via ONE count-distinct aggregate over the
    96-bit (capture, value) hash pairs — Spark plans the dedup and the
    count in a single fused aggregation, measured faster than an
    explicit distinct()+groupBy chain; (2) strings restored by a second
    hash-only scan broadcast-joined to the (result-sized) frequent
    supports, deduped by a group-by-all-columns distinct — at most one
    string tuple per capture per map partition rides the shuffle, and
    the dedup hash-aggregates (a first()-style recovery carries string
    aggregation buffers, which forces SortAggregate on both passes —
    r11 plan audit).

    Honest-cost note (noop-write A/B at sf0.1, min of 2 alternating):
    this plan ~13s; the two-shuffle distinct+groupBy variant ~14s;
    carrying the strings through the distinct-aggregate itself (one
    scan, no restore join) ~19-29s — Spark's distinct-agg expand
    doubles the rows BEFORE partial aggregation, so the strings ride
    2x the stream and lose more than the saved scan.  (A count()-based
    A/B is misleading here: Catalyst prunes unreferenced first()
    aggregates under count, hiding the string cost.)
    """
    cand = capture_candidates(triples, projection)
    caph = cand.select(
        F.xxhash64("join_value").alias("jv1"),
        F.hash("join_value").alias("jv2"),
        F.xxhash64("code", "v1", "v2").alias("h1"),
        F.hash("code", "v1", "v2").alias("h2"),
    )
    freq_h = (
        caph.groupBy("h1", "h2")
        .agg(F.count_distinct("jv1", "jv2").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return (
        cand.select(
            "code",
            "v1",
            "v2",
            F.xxhash64("code", "v1", "v2").alias("h1"),
            F.hash("code", "v1", "v2").alias("h2"),
        )
        .join(F.broadcast(freq_h), on=["h1", "h2"])
        .select(*CAPTURE_KEY, "support")
        .distinct()
    )


def discover_cinds(
    triples: DataFrame,
    min_support: int = 10,
    minimal: bool = True,
    ar_filter: bool = False,
    projection: str | None = None,
    sketch_filter: bool = False,
) -> DataFrame:
    """End-to-end CIND discovery: triples → pertinent (support ≥
    min_support) CINDs, optionally minimal.  Output schema:
    (dep_code, dep_v1, dep_v2, ref_code, ref_v1, ref_v2, support).

    ``ar_filter``: drop 1/1 CINDs implied by confidence-1.0 association
    rules *before* the minimality pass (G17) — matching the reference's
    order, where AR-filtered CINDs can no longer act as minimality
    killers (``plan/SmallToLargeTraversalStrategy.scala:80-87``).

    ``sketch_filter``: the approximate-then-verify traversal (reference
    strategy 2, ``plan/ApproximateAllAtOnceTraversalStrategy.scala:
    19-124``, re-expressed): per-capture Bloom bitmasks of the value
    sets prune non-inclusion pairs before the overlap aggregate, and the
    exact count verifies the survivors — same exact result set (the
    sketch test has false positives only, like the reference's Bloom
    round)."""
    # defer_frequent: the string-recovery scan overlaps the hot-line
    # census inside capture_overlaps (and the sketch build, when on) —
    # neither touches the string table.
    cand, dcap_h, freq_h, frequent, capf = build_capture_tables(
        triples, min_support, projection, defer_frequent=True
    )
    # sketches are result-sized (#frequent × 44 B) and feed two
    # broadcast builds per pair enumerator — materialize once with
    # truncated lineage.
    sketches = (
        materialize(capture_value_sketches(capf))
        if sketch_filter
        else None
    )
    cands = capture_overlaps(
        capf, frequent, min_overlap=min_support, sketches=sketches
    )
    # The dep/ref extraction references the overlap table twice (one
    # branch per direction); materializing the result-sized table first
    # stops the whole pair pipeline from running twice.  coalesce: the
    # table inherits the pair stage's high partition count (512+), and the
    # many minimality branches would multiply those into thousands of
    # near-empty tasks (measured: a broadcast child with ~2000 tasks).
    cands = cands.coalesce(triples.sparkSession.sparkContext.defaultParallelism)
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    cands.count()
    # All four shared tables are dead once the overlap table is
    # materialized — leaking them was measured to slow the NEXT query
    # in the same session >10x (executor memory pressure).
    dcap_h.unpersist()
    capf.unpersist()
    freq_h.unpersist()
    frequent.unpersist()
    cinds = extract_cinds(cands)
    if ar_filter:
        from rdfind_spark.operators.rules import (
            association_rules,
            filter_ar_implied_cinds,
        )

        cinds = filter_ar_implied_cinds(
            cinds, association_rules(triples, min_support, 1.0)
        )
    if minimal:
        cinds = remove_implied_cinds(cinds)
    return cinds

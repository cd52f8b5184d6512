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
staged engine shares.  Discovery enumerates pairs in one place,
``_grouped_pair_counts``: each join line becomes a sorted capture array
that emits its pairs through codegen'd generators, and a line wider
than HOT_LINE_K is cut into position blocks whose block pairs are
spread over tasks (the reference's join-line rebalancing in array
form).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.captures import capture_candidates
from rdfind_spark.util import materialize, release, salted_join

CAPTURE_KEY = ["code", "v1", "v2"]

# A join line with more than HOT_LINE_K frequent captures is hot.  The
# pair enumerator cuts such a line into HOT_LINE_K-wide position blocks
# (see _grouped_pair_counts), so no task emits more than HOT_LINE_K²
# ≈ 260k pairs from one cell — roughly the point where one task's share
# of the product outweighs the cost of replicating the line's blocks.
# N_SALT is the salt factor of the verify join over mask-cap overflow
# lines (cold_line_join).
HOT_LINE_K = 512
N_SALT = 32

# Cap on the number of hot lines handled by the bitmask decomposition:
# each masked line costs one bit per capture (n/64 mask columns) and one
# driver-collected tuple, so a pathological hub distribution (tens of
# thousands of hot lines) would mean hundreds of mask columns and an
# unbounded collect.  Beyond the cap, only the MAX_HOT_MASK *hottest*
# lines get masks; the overflow lines stay exact through the block
# split of the pair enumerator and the salted verify join (graceful
# degradation, no driver blow-up).
MAX_HOT_MASK = 4096

JV = ["jv1", "jv2"]
PKEY = ["a_h1", "a_h2", "b_h1", "b_h2"]


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


def capture_hash(prefix: str = "") -> list[Column]:
    """The 96-bit capture id of the ``<prefix>code``, ``<prefix>v1``,
    ``<prefix>v2`` columns as ``<prefix>h1`` (xxhash64) and
    ``<prefix>h2`` (murmur3) — the relational form of the reference's
    dictionary compression (``operators/ConditionCompressor.scala:
    13-35``): the quadratic pair stage runs on fixed-width integer keys
    instead of long URI strings.  96 bits make a silent collision
    negligible (~n²/2⁹⁷); see the collision census in tests."""
    key = [prefix + c for c in CAPTURE_KEY]
    return [
        F.xxhash64(*key).alias(prefix + "h1"),
        F.hash(*key).alias(prefix + "h2"),
    ]


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
    fh = frequent.select(*CAPTURE_KEY, "support", *capture_hash())
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
# overflow) are never collected and stay exact as cold lines: the pair
# enumerator block-splits them, the verify join salts them.


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
    """(jv1, jv2, idx): each named hot line with its mask bit index.
    The keys travel as ONE JSON string literal, parsed in the JVM over a
    one-row ``range``: no Python worker starts (a local-data frame runs
    a Python RDD job), and the plan stays the same size however many
    lines are named (per-line literal expressions would cost py4j calls
    and analyzer work per line, thousands at MAX_HOT_MASK)."""
    keys = F.from_json(F.lit(json.dumps(hot_values)), "array<array<bigint>>")
    return (
        df.sparkSession.range(1)
        .select(F.posexplode(keys).alias("idx", "k"))
        .select(
            F.col("k")[0].alias("jv1"), F.col("k")[1].cast("int").alias("jv2"), "idx"
        )
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

    The quadratic pair emission + aggregate run entirely on the compact
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
    * Every pair source — no hot lines, the cold lines, the deep
      hot-only captures — is the one enumerator ``_grouped_pair_counts``.
      The lines the census found wide (mask-cap overflow lines, hot
      lines of a large deep class) are cut into position blocks there,
      so no task emits more than HOT_LINE_K² pairs of one line.

    ``hot_values``/``hot_overflow``: a caller that already censused a
    SUPERSET of this input's hot lines (the staged engine's shared
    full-line census) passes it here to skip the census job — safe
    because the decomposition is exact for any hot set: lines named hot
    are mask-counted, everything else (overflow lines included) is
    enumerated as cold, the overflow lines block-split.
    """
    if hot_values is None:
        hot_values, hot_overflow = hot_line_census(capf)
    if hot_values:
        ov = _cold_pair_counts_with_hot_masks(
            capf, hot_values, min_overlap, sketches, overflow=hot_overflow
        )
    else:
        # no hot lines at all — every line is narrow
        ov = _grouped_pair_counts(capf, min_overlap, sketches)
    # ov is already unique per pair (every source ends in a groupBy on
    # the fixed-width hash keys), so no distinct on the restored
    # (long URI string) table is needed (that string-key distinct
    # measured as a significant share of capture_overlaps at sf0.1).
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
    ``overflow``: the census's hot lines past the mask cap, which stay
    cold and are the cold side's only wide lines.

    Exact for ANY n_hot vs min_overlap relation:

    * part1 — pairs with ≥1 cold co-occurrence are enumerated over the
      cold lines (kept when cold_count >= min_overlap - n_hot, the
      weakest bound a qualifying pair can satisfy) and completed with
      their mask popcount;
    * part2 — pairs living ONLY in hot lines can qualify only if BOTH
      captures sit in >= min_overlap distinct hot lines ("deep"
      captures, found from the mask popcounts — usually none, always
      few).  Their pairs are enumerated over the deep captures' hot-line
      rows, which counts their hot-line overlap; a hot line can hold
      more than HOT_LINE_K of them only when there are that many.

    A pair in both parts has a cold count ≥ 1, so its part1 total is
    strictly larger than its part2 hot count: the merge keeps the larger
    overlap per pair, which is the exact total.  Both parts come out of
    ``_grouped_pair_counts`` in (h1, h2)-lex orientation, so the same
    unordered pair always carries the same key.  The hub k² stays
    unmaterialized even when hot lines outnumber min_overlap (where
    the old gate fell back to the salted join over everything:
    measured 22× slower at a 2× scale probe)."""
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
    ov_cold = _grouped_pair_counts(
        cold, max(1, min_overlap - n_hot), sketches, wide=overflow
    ).withColumnRenamed("overlap", "cold_overlap")
    with_masks = ov_cold.join(
        F.broadcast(masks_as(masks, "a")), on=["a_h1", "a_h2"], how="left"
    ).join(F.broadcast(masks_as(masks, "b")), on=["b_h1", "b_h2"], how="left")
    part1 = with_masks.select(
        *PKEY,
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
    # distinct hot lines.
    popcnt = _popcount(F.col(f"m{c}") for c in range(_mask_words(hot_values)))
    deep = materialize(masks.filter(popcnt >= min_overlap).select("h1", "h2"))
    n_deep = deep.count()
    if n_deep == 0:
        return part1
    hot_rows = capf.join(hot_keys, on=JV).join(
        F.broadcast(deep), on=["h1", "h2"], how="left_semi"
    )
    part2 = _grouped_pair_counts(
        hot_rows, min_overlap, sketches,
        wide=hot_keys if n_deep > HOT_LINE_K else None,
    )
    return (
        part1.unionByName(part2)
        .groupBy(*PKEY)
        .agg(F.max("overlap").alias("overlap"))
    )


def _cell_pairs(cells: DataFrame) -> DataFrame:
    """The pair rows of ``(left, right, diag)`` cells of sorted capture
    arrays: every x of ``left`` with every y of ``right``, or, in a
    diagonal cell (``left`` is ``right``), every x with each y after it.
    Two codegen'd generators — ``posexplode`` for x and its position,
    ``explode`` over the rest of the array for y — so no SQL lambda runs
    per element."""
    rest = F.when(
        F.col("diag"),
        F.slice("right", F.col("i") + 2, F.size("right") - 1 - F.col("i")),
    ).otherwise(F.col("right"))
    return (
        cells.select("right", "diag", F.posexplode("left").alias("i", "x"))
        .select("x", F.explode(rest).alias("y"))
        .select(
            F.col("x.h1").alias("a_h1"),
            F.col("x.h2").alias("a_h2"),
            F.col("y.h1").alias("b_h1"),
            F.col("y.h2").alias("b_h2"),
        )
    )


def _line_arrays(rows: DataFrame, n_pair: int) -> DataFrame:
    """(jv1, jv2, caps): each join line's captures as one array sorted
    by (h1, h2), grouped over ONE exchange (complete-mode aggregate —
    the child repartition already satisfies the distribution)."""
    return (
        rows.repartition(n_pair, *JV)
        .groupBy(*JV)
        .agg(F.sort_array(F.collect_list(F.struct("h1", "h2"))).alias("caps"))
    )


def _grouped_pair_counts(
    capf: DataFrame,
    min_overlap: int,
    sketches: DataFrame | None = None,
    wide: DataFrame | None = None,
) -> DataFrame:
    """Pair overlap counts of a capture table, the discovery's one pair
    enumerator: group each join line into a sorted capture array and
    EMIT its C(k,2) pairs directly (``_cell_pairs``), instead of
    self-joining the table.

    One exchange groups the lines and pair emission is pure codegen
    over the arrays, where a self-join would shuffle the table twice
    and probe a hash table per row.  The sorted array makes the
    orientation globally (h1, h2)-lexicographic, so every pair source
    (cold lines, deep class) and consumer (mask add, the part1/part2
    merge, restore) sees identical keys.

    ``wide``: the (jv1, jv2) keys of the lines the caller's hot census
    found wider than HOT_LINE_K (None: no line is).  They get the
    reference's join-line rebalancing (``AssignJoinLineRebalancing.
    scala:15-65``) in array form: a line is cut into b = ceil(k /
    HOT_LINE_K) position blocks, and each block pair (p <= q) becomes a
    cell repartitioned on (line, p, q) — a diagonal cell emits the
    pairs inside its block, an off-diagonal cell every block-p ×
    block-q pair.  Blocks of a sorted array are sorted and disjoint, so
    every pair is emitted once, in the same orientation, and no task
    emits more than HOT_LINE_K² pairs of one cell.  Every other line
    emits in its grouping task, behind its one exchange.  The counts
    are exact whatever ``wide`` holds: a narrow line in it is one
    diagonal cell, and a wide line left out emits from one task."""
    n_pair = _pair_parallelism(capf)
    rows = capf.select(*JV, "h1", "h2")
    if wide is not None:
        wide = F.broadcast(wide.select(*JV))
        blocked = _line_arrays(rows.join(wide, on=JV, how="left_semi"), n_pair)
        rows = rows.join(wide, on=JV, how="left_anti")
    narrow = (
        _line_arrays(rows, n_pair)
        .filter(F.size("caps") >= 2)
        .select(
            F.col("caps").alias("left"),
            F.col("caps").alias("right"),
            F.lit(True).alias("diag"),
        )
    )
    pairs = _cell_pairs(narrow)
    if wide is not None:
        last = F.expr(f"(size(caps) - 1) div {HOT_LINE_K}")

        def block(c: str) -> Column:
            return F.slice("caps", F.col(c) * HOT_LINE_K + 1, F.lit(HOT_LINE_K))

        cells = (
            blocked.select(*JV, "caps", F.explode(F.sequence(F.lit(0), last)).alias("p"))
            .select(*JV, "caps", "p", F.explode(F.sequence(F.col("p"), last)).alias("q"))
            .select(*JV, "p", "q", block("p").alias("left"), block("q").alias("right"))
            .repartition(n_pair, *JV, "p", "q")
            .select("left", "right", (F.col("p") == F.col("q")).alias("diag"))
        )
        pairs = pairs.unionByName(_cell_pairs(cells))
    if sketches is not None:
        pairs = _apply_sketch_filter(pairs, sketches)
    # Pair counting WITHOUT map-side partial aggregation: pair keys are
    # mostly unique (the long tail), so partial aggregation shuffles the
    # same row count anyway but first burns a full hash-map build +
    # spill-sort per task.  Repartitioning by the pair key first makes
    # the child partitioning satisfy the aggregation's distribution
    # requirement, so Catalyst plans a single complete-mode
    # HashAggregate over fixed-width 4-integer keys.
    ov = (
        pairs.select(*PKEY)
        .repartition(n_pair, *PKEY)
        .groupBy(*PKEY)
        .agg(F.count("*").alias("overlap"))
    )
    if min_overlap > 1:
        ov = ov.filter(F.col("overlap") >= min_overlap)
    return ov


def _restore_capture_keys(ov: DataFrame, frequent: DataFrame) -> DataFrame:
    """Replace hashed pair keys by the capture keys + supports
    (result-sized broadcast joins), canonicalizing each pair to a < b by
    capture key (hash order is internal)."""
    fh = frequent.select("*", *capture_hash())
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
    checkpointing stays cheap at any scale.  The checkpointed input is
    released once the (equally checkpointed) result exists."""
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
        out = materialize(pinned)
    release(cinds)
    return out


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


def _hashed_instances(cand: DataFrame) -> DataFrame:
    """(jv1, jv2, h1, h2): each capture candidate as the 96-bit hashes of
    its join value and of its capture key (see ``capture_hash``)."""
    return cand.select(
        F.xxhash64("join_value").alias("jv1"),
        F.hash("join_value").alias("jv2"),
        *capture_hash(),
    )


def _frequent_strings(cand: DataFrame, freq_h: DataFrame) -> DataFrame:
    """(code, v1, v2, support) of the (result-sized) hash-keyed frequent
    captures ``freq_h``, their strings recovered with one more streaming
    pass over the raw candidates — a broadcast semi-restriction plus a
    partial-aggregated dedup: no wide shuffle touches strings.

    The dedup is a group-by-all-columns distinct, NOT first()-aggregates
    keyed on the hashes: a first() over a string column carries a
    var-length aggregation buffer, which HashAggregate cannot hold, so
    Catalyst silently planned SortAggregate — both aggregation passes
    were sorting the full restricted stream (r11 plan audit; guide §1.2
    "per-task work").  Group keys may be strings, so the distinct
    hash-aggregates, with at most one row per capture per partition on
    the shuffle.  ((code, v1, v2) determines support through freq_h, so
    the result is one row per capture.)"""
    return (
        cand.select(*CAPTURE_KEY, *capture_hash())
        .join(F.broadcast(freq_h), on=["h1", "h2"])
        .select(*CAPTURE_KEY, "support")
        .distinct()
    )


def build_capture_tables(
    triples: DataFrame,
    min_support: int = 10,
    projection: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared hashed-prefix pipeline of every CIND engine entry:
    returns ``(cand, dcap_h, freq_h, frequent, capf)`` with the last
    four PERSISTED (MEMORY_AND_DISK).  Callers unpersist what they took
    when done.

    The whole bulk pipeline (distinct, support counts, pair join) runs
    on 96-bit hashes of BOTH the join value and the capture key:
    shuffles move fixed-width integer rows instead of URI strings
    (measured 2.5x on the distinct+support stages at sf0.1), and
    strings are recovered once, for the result-sized frequent set only.
    This is the reference's dictionary compression (T7-T9,
    ``operators/ConditionCompressor.scala``) applied wholesale.

    Build order: ``dcap_h.count()``, then ``capf.count()``, which also
    builds ``freq_h``; ``frequent`` stays lazy and its first reader
    builds it.  Leaving stacked caches lazy lets the first downstream
    job's AQE materialize the TableCacheQueryStages CONCURRENTLY, and
    when one cache's build plan contains another unbuilt cache, the
    builds can circular-wait — a race-dependent driver deadlock
    (observed).  After the two counts ``frequent`` is the only unbuilt
    cache, and its plan reads no other unbuilt one."""
    cand = capture_candidates(triples, projection)
    if os.environ.get("RDFIND_SPARK_CHECK_HASHES"):
        assert_hash_injective(cand)
    dcap_h = _hashed_instances(cand).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    dcap_h.count()
    freq_h = (
        dcap_h.groupBy("h1", "h2")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frequent = _frequent_strings(cand, freq_h).persist(StorageLevel.MEMORY_AND_DISK)
    capf = (
        dcap_h.join(F.broadcast(freq_h), on=["h1", "h2"])
        .select("jv1", "jv2", "h1", "h2", "support")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    capf.count()
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
    freq_h = (
        _hashed_instances(cand)
        .groupBy("h1", "h2")
        .agg(F.count_distinct("jv1", "jv2").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return _frequent_strings(cand, freq_h)


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
    cand, dcap_h, freq_h, frequent, capf = build_capture_tables(
        triples, min_support, projection
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
        # the minimal set is checkpointed, so the overlap table is dead
        cinds = remove_implied_cinds(cinds)
        cands.unpersist()
    return cinds

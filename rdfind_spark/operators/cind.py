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
``hot_line_masks``, ``hot_line_overlap``).  Discovery enumerates pairs
in one place, ``_grouped_pair_counts``: each join line becomes a sorted
capture array that emits its pairs through codegen'd generators, and a
line wider than HOT_LINE_K is cut into position blocks whose block
pairs are spread over tasks (the reference's join-line rebalancing in
array form).  Every traversal strategy id runs ``discover_cinds``.
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
from rdfind_spark.util import materialize, release

CAPTURE_KEY = ["code", "v1", "v2"]

# A join line with more than HOT_LINE_K frequent captures is hot.  The
# pair enumerator cuts a wide line into HOT_LINE_K-wide position blocks
# (_block_cells), so no task emits more than HOT_LINE_K² ≈ 260k pairs
# from one cell — roughly the point where one task's share of the
# product outweighs the cost of replicating the line's blocks.
HOT_LINE_K = 512

# Cap on the number of hot lines handled by the bitmask decomposition:
# each masked line costs one bit per capture (n/64 mask columns) and one
# driver-collected tuple, so a pathological hub distribution (tens of
# thousands of hot lines) would mean hundreds of mask columns and an
# unbounded collect.  Beyond the cap, only the MAX_HOT_MASK *hottest*
# lines get masks; the overflow lines stay exact through the position
# block split of the pair enumerator (graceful degradation, no driver
# blow-up).
MAX_HOT_MASK = 4096

JV = ["jv1", "jv2"]
PKEY = ["a_h1", "a_h2", "b_h1", "b_h2"]


def _pair_parallelism(df: DataFrame) -> int:
    """Partition count for the pair-explosion stages: a multiple of the
    session's shuffle parallelism, since join output is 10-100× its
    input."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")) * 4


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


# ---- the hot-line kernel: the one hub-line mechanism of the CIND
# engine (the reference's join-line rebalancing,
# ``operators/AssignJoinLineRebalancing.scala:15-65``).  A join line is
# hot when more than HOT_LINE_K frequent captures share it.  The
# MAX_HOT_MASK hottest hot lines are named on the driver and encoded as
# per-capture 64-bit membership masks, so a pair's hot-line overlap is
# a popcount instead of a k² join; hot lines past the cap (the
# overflow) are never collected and stay exact as cold lines, cut into
# position blocks by the pair enumerator.


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


def capture_overlaps(
    capf: DataFrame,
    frequent: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """Unordered pairwise overlap counts: for captures a < b (by key
    order), the number of join values where both occur.  Overlap is
    symmetric, so each unordered pair is counted once (the reference's
    balanced pair emission, ``CreateUnaryUnaryOverlapCandidates``,
    generalized to all arities).

    The quadratic pair emission + aggregate run entirely on the compact
    hashed keys of ``build_capture_tables`` — fixed-width UnsafeRows keep
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
    """
    hot_values, hot_overflow = hot_line_census(capf)
    if hot_values:
        ov = _cold_pair_counts_with_hot_masks(
            capf, hot_values, min_overlap, overflow=hot_overflow
        )
    else:
        # no hot lines at all — every line is narrow
        ov = _grouped_pair_counts(capf, min_overlap)
    # ov is already unique per pair (every source ends in a groupBy on
    # the fixed-width hash keys), so no distinct on the restored
    # (long URI string) table is needed (that string-key distinct
    # measured as a significant share of capture_overlaps at sf0.1).
    return _restore_capture_keys(ov, frequent)


def _cold_pair_counts_with_hot_masks(
    capf: DataFrame,
    hot_values: list,
    min_overlap: int,
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
        cold, max(1, min_overlap - n_hot), wide=overflow
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
        hot_rows, min_overlap, wide=hot_keys if n_deep > HOT_LINE_K else None
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


def _block_cells(lines: DataFrame, n_pair: int) -> DataFrame:
    """The ``(left, right, diag)`` cells of the sorted capture array
    ``caps`` of ``lines`` (one row per join line): the reference's
    join-line rebalancing (``AssignJoinLineRebalancing.scala:15-65``) in
    array form.  The array is cut into HOT_LINE_K-wide position blocks,
    and each cell (block p × block q, p <= q, diagonal when p = q) is
    repartitioned on (line, p, q), so no task emits more than
    HOT_LINE_K² pairs of one cell."""
    last = F.expr(f"(size(caps) - 1) div {HOT_LINE_K}")

    def block(i: str) -> Column:
        return F.slice("caps", F.col(i) * HOT_LINE_K + 1, F.lit(HOT_LINE_K))

    return (
        lines.select(*JV, "caps", F.explode(F.sequence(F.lit(0), last)).alias("p"))
        .select(*JV, "caps", "p", F.explode(F.sequence(F.col("p"), last)).alias("q"))
        .select(*JV, "p", "q", block("p").alias("left"), block("q").alias("right"))
        .repartition(n_pair, *JV, "p", "q")
        .select("left", "right", (F.col("p") == F.col("q")).alias("diag"))
    )


def _grouped_pair_counts(
    capf: DataFrame,
    min_overlap: int,
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
    found wider than HOT_LINE_K (None: no line is).  They are cut into
    position blocks (``_block_cells``): a diagonal cell emits the pairs
    inside its block, an off-diagonal cell every block-p × block-q
    pair.  Blocks of a sorted array are sorted and disjoint, so every
    pair is emitted once, in the same orientation.  Every other line
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
        pairs = pairs.unionByName(_cell_pairs(_block_cells(blocked, n_pair)))
    # Pair counting WITHOUT map-side partial aggregation.  Pair keys
    # repeat (emissions : distinct pairs, perfbench inputs: TPC-H star
    # over the full capf 1,061,823 : 45,940, 23:1; zipf_hubs cold lines
    # 3,726,370 : 1,838,031, 2:1), but a partial aggregate measured
    # -4 % discover_s on tpch_staged and flat-to-worse on zipf_hubs, so
    # the one complete-mode aggregate stays.  Repartitioning by the pair
    # key first makes the child partitioning satisfy the aggregation's
    # distribution requirement, so Catalyst plans a single complete-mode
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


def capture_generalizations(code: str, v1: str, v2: str) -> Column:
    """``array<struct<g_code int, g_v1 string>>``: the unary
    generalizations of the capture in columns ``code``, ``v1``, ``v2``
    (``cc.GENERALIZATION_MAP``, one CASE branch per binary code), empty
    for a unary capture.  An explode over it replaces a union of one
    filtered copy per (binary code, generalization): one scan, no
    six-branch Union in the plan."""

    def gens(bcode: int) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(ucode).alias("g_code"),
                    F.col(v1 if value_index == 1 else v2).alias("g_v1"),
                )
                for ucode, value_index in cc.GENERALIZATION_MAP[bcode]
            ]
        )

    cases = [(F.col(code) == bcode, gens(bcode)) for bcode in cc.GENERALIZATION_MAP]
    out = F.when(*cases[0])
    for cond, value in cases[1:]:
        out = out.when(cond, value)
    return out.otherwise(F.array().cast("array<struct<g_code:int,g_v1:string>>"))


def remove_implied_cinds(cinds: DataFrame) -> DataFrame:
    """Minimality: drop CINDs implied by an emitted more-general CIND —
    (a) broader dependent: a unary-dep CIND over a generalization of my
    binary dep with the same ref; (b) narrower referenced: a CIND with
    my dep and a binary ref refining my unary ref.  Mirrors the four
    anti-joins of the reference (``plan/TraversalStrategy.scala:121-168``)
    with two generators (``capture_generalizations`` of the dep for (a),
    of the ref for (b)), both against the full emitted set.

    The input is eagerly materialized with its lineage TRUNCATED
    (``localCheckpoint``) first: this function references ``cinds``
    several times (probe, killer and anti-join branches), and with plain
    persist each branch still carries a full copy of the upstream
    pair-join pipeline in the logical plan — multi-megabyte plan trees
    that Catalyst re-analyzes and the driver re-stringifies per action.
    The CIND set is result-sized (orders of magnitude smaller than the
    data), so checkpointing stays cheap at any scale.  The checkpointed
    input is released once the (equally checkpointed) result exists."""
    cinds = materialize(cinds)
    all_cols = cinds.columns
    # The whole pass (two generator scans, two semi/anti-joins) runs over
    # the RESULT-SIZED materialized CIND table; inheriting the session's
    # corpus-sized shuffle.partitions costs hundreds of near-empty tasks
    # per branch (r11 timeline: ~18 s wall on a ~50k-row table).  Pin to
    # the measured size (the loop_shuffle_partitions rule); the count is
    # a cache scan.
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
    ref_key = ["ref_code", "ref_v1", "ref_v2"]
    # (a) binary dep implied by a unary-dep CIND with the same ref: probe
    # each dep generalization against the unary-dep CINDs
    killers_a = cinds.select(
        F.col("dep_code").alias("g_code"), F.col("dep_v1").alias("g_v1"), *ref_key
    ).filter(F.col("g_code").isin(list(cc.VALID_UNARY_CODES)))
    bad_a = (
        cinds.select(
            *all_cols,
            F.inline(capture_generalizations("dep_code", "dep_v1", "dep_v2")),
        )
        .join(killers_a, on=["g_code", "g_v1", *ref_key], how="left_semi")
        .select(*all_cols)
    )
    # (b) unary ref implied by a binary-ref CIND with the same dep: each
    # binary ref generalizes to the unary (ref_code, ref_v1) it kills
    killed_b = cinds.select(
        "dep_code",
        "dep_v1",
        "dep_v2",
        F.inline(capture_generalizations("ref_code", "ref_v1", "ref_v2")).alias(
            "ref_code", "ref_v1"
        ),
    )
    return cinds.join(bad_a, on=all_cols, how="left_anti").join(
        killed_b,
        on=["dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1"],
        how="left_anti",
    )


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


def _frequent_hashes(hashed: DataFrame, min_support: int) -> DataFrame:
    """(h1, h2, support) of the frequent captures of ``_hashed_instances``
    rows, lazily: the support is ONE count-distinct aggregate over the
    (capture, join value) hash pairs — Spark plans the dedup and the
    count in a single fused aggregation, measured faster than an
    explicit distinct()+groupBy chain."""
    return (
        hashed.groupBy("h1", "h2")
        .agg(F.count_distinct("jv1", "jv2").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def build_capture_tables(
    triples: DataFrame,
    min_support: int = 10,
    projection: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared hashed-prefix pipeline of every CIND engine entry:
    returns ``(cand, dcap_h, freq_h, frequent, capf)`` with the last
    three PERSISTED (MEMORY_AND_DISK).  Callers unpersist what they took
    when done.  ``dcap_h``, the distinct hashed (join value, capture)
    instances, is lazy and never cached: the prefix reads the
    candidates twice (supports, then ``capf``) instead of caching a
    corpus-sized distinct, and only a caller that wants the distinct
    count pays for it.

    The whole bulk pipeline (support counts, distinct, pair join) runs
    on 96-bit hashes of BOTH the join value and the capture key:
    shuffles move fixed-width integer rows instead of URI strings
    (measured 2.5x on the distinct+support stages at sf0.1), and
    strings are recovered once, for the result-sized frequent set only.
    This is the reference's dictionary compression (T7-T9,
    ``operators/ConditionCompressor.scala``) applied wholesale.

    Build order: ``capf.count()`` builds ``freq_h`` too; ``frequent``
    stays lazy and its first reader builds it.  Leaving stacked caches
    lazy lets the first downstream job's AQE materialize the
    TableCacheQueryStages CONCURRENTLY, and when one cache's build plan
    contains another unbuilt cache, the builds can circular-wait — a
    race-dependent driver deadlock (observed).  After the count
    ``frequent`` is the only unbuilt cache, and its plan reads no other
    unbuilt one."""
    cand = capture_candidates(triples, projection)
    if os.environ.get("RDFIND_SPARK_CHECK_HASHES"):
        assert_hash_injective(cand)
    hashed = _hashed_instances(cand)
    freq_h = _frequent_hashes(hashed, min_support).persist(StorageLevel.MEMORY_AND_DISK)
    frequent = _frequent_strings(cand, freq_h).persist(StorageLevel.MEMORY_AND_DISK)
    capf = (
        hashed.join(F.broadcast(freq_h), on=["h1", "h2"])
        .select("jv1", "jv2", "h1", "h2", "support")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    capf.count()
    return cand, hashed.distinct(), freq_h, frequent, capf


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

    Plan shape: (1) supports from ``_frequent_hashes``, the prefix's one
    count-distinct aggregate; (2) strings restored by a second
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
    return _frequent_strings(cand, _frequent_hashes(_hashed_instances(cand), min_support))


def discover_cinds(
    triples: DataFrame,
    min_support: int = 10,
    minimal: bool = True,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """End-to-end CIND discovery: triples → pertinent (support ≥
    min_support) CINDs, optionally minimal.  Output schema:
    (dep_code, dep_v1, dep_v2, ref_code, ref_v1, ref_v2, support).

    ``ar_filter``: drop 1/1 CINDs implied by confidence-1.0 association
    rules *before* the minimality pass (G17) — matching the reference's
    order, where AR-filtered CINDs can no longer act as minimality
    killers (``plan/SmallToLargeTraversalStrategy.scala:80-87``)."""
    _cand, _dcap_h, freq_h, frequent, capf = build_capture_tables(
        triples, min_support, projection
    )
    cands = capture_overlaps(capf, frequent, min_overlap=min_support)
    # The dep/ref extraction references the overlap table twice (one
    # branch per direction); materializing the result-sized table first
    # stops the whole pair pipeline from running twice.  coalesce: the
    # table inherits the pair stage's high partition count (512+), and the
    # many minimality branches would multiply those into thousands of
    # near-empty tasks (measured: a broadcast child with ~2000 tasks).
    cands = cands.coalesce(triples.sparkSession.sparkContext.defaultParallelism)
    cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    cands.count()
    # All three shared tables are dead once the overlap table is
    # materialized — leaking them was measured to slow the NEXT query
    # in the same session >10x (executor memory pressure).
    capf.unpersist()
    freq_h.unpersist()
    frequent.unpersist()
    cinds = extract_cinds(cands)
    rules = None
    if ar_filter:
        from rdfind_spark.operators.rules import (
            association_rules,
            filter_ar_implied_cinds,
        )

        rules = association_rules(triples, min_support, 1.0)
        cinds = filter_ar_implied_cinds(cinds, rules)
    # either result is checkpointed, so the overlap table and the
    # materialized rule table are dead
    cinds = remove_implied_cinds(cinds) if minimal else materialize(cinds)
    cands.unpersist()
    if rules is not None:
        release(rules)
    return cinds

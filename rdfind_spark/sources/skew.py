"""Deterministic Zipf-shaped skewed triple derivation — the DBpedia
hub-value shape, derived arithmetically from the ``orders`` table so
the SAME fixture exists in Spark and in the DuckDB oracle with zero
side-channel files.

Why this exists (round-10 verdict task 3a): every registered CIND
query runs over triple-ized TPC-H, whose value distribution is benign —
no join line approaches ``HOT_LINE_K``, so the hot-mask decomposition
(``operators/cind.py:209`` — the engine's answer to the reference's
whole join-line rebalancing subsystem,
``rdfind-algorithm/.../operators/AssignJoinLineRebalancing.scala:15-65``
and ``programs/RDFind.scala:404-444``) carried only probe evidence
(``scripts/zipf_cind_probe.py``), never a driver-checked oracle row.
This module gives the decomposition itself a registered three-check
query: at sf0.01 the derived fixture's hub lines are ~760-1250 frequent
captures wide (HOT_LINE_K = 512, so the mask path and the deep-capture
part-2 path both engage at their REAL thresholds) while the
DuckDB oracle runs the identical discovery relationally.

The derivation, per order key ``s`` (dense 0..N-1, so every block
scales linearly with SF while celebrity/hub-line COUNTS stay fixed):

* 10 unique literals  (e:s, p:(k%8),      u:s:k)   — support base:
  every subject capture o[subj=e:s] holds >= 10 distinct values, so it
  is frequent and sits in every line its values name.
* hot hub A           (e:s, p:(s%8),      h:(s%20))          — 20 hub
  values whose join lines hold ~N/20 frequent subject captures.
* hot hub B           (e:s, p:((s+1)%8),  h:(20 + (s/20)%20)) — 20
  more, decorrelated from A, so capture pairs meet in ≤1 hub line and
  the pair tail stays bounded.
* 8 background hubs   (e:s, p:((s+k)%8),  b:(s/16):((s*31+k*17)%8))
  — block-local values: realistic cold-line noise whose width (~24) is
  CONSTANT in N, so the cold pair join scales linearly at any SF.
* type (s%4==1 only)  (e:s, 'type',       T:(s%3)) — three hot class
  lines (~N/12) that generate provably-true CINDs
  (s[obj=T:j] ⊆ s[pred=p:*]) plus structurally-implied ones for the
  minimality anti-joins to remove.
* celebrities (s<240) (e:s, p:((s+k)%8),  h:k), k<12 — 240 subjects
  living in 12+ distinct hot lines: with min_support=10 these are
  exactly the "deep" capture class (mask popcount >= min_overlap)
  whose pairs only the part-2 enumeration can recover.

One spec, two renderings: the block table below is rendered to Spark
(``selectExpr`` over ``orders`` × ``spark.range``) and to DuckDB SQL
(``FROM orders, range(n)``), with dialect differences confined to
``STR()`` (STRING vs VARCHAR casts) and ``IDIV()`` (``div`` vs ``//``
integer division) so the formulas themselves cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfind_spark.sources.triples import load_table

N_CELEB = 240        # subjects s < N_CELEB are celebrities
N_CELEB_LINES = 12   # hot lines h:0..11 each celebrity joins

# (n_k, where_clause_or_None, subj, pred, obj) — formulas over the
# order key `s` and the expansion index `k`, in the dialect-neutral
# mini-language: STR(x) integer→string cast, IDIV(a,b) floor division.
_BLOCKS: list[tuple[int, str | None, str, str, str]] = [
    # support base: 10 unique literals per subject
    (10, None,
     "'e:' || STR(s)", "'p:' || STR(k % 8)",
     "'u:' || STR(s) || ':' || STR(k)"),
    # hot hub A: 20 lines of ~N/20 subjects
    (1, None,
     "'e:' || STR(s)", "'p:' || STR(s % 8)",
     "'h:' || STR(s % 20)"),
    # hot hub B: 20 more, decorrelated (key digit s/20)
    (1, None,
     "'e:' || STR(s)", "'p:' || STR((s + 1) % 8)",
     "'h:' || STR(20 + (IDIV(s, 20) % 20))"),
    # background: block-local cold values, width constant in N
    (8, None,
     "'e:' || STR(s)", "'p:' || STR((s + k) % 8)",
     "'b:' || STR(IDIV(s, 16)) || ':' || STR((s * 31 + k * 17) % 8)"),
    # class triples: 3 hot lines + known-true CINDs
    (1, "s % 4 = 1",
     "'e:' || STR(s)", "'type'",
     "'T:' || STR(s % 3)"),
    # celebrities: deep captures (>= 12 hot-line memberships)
    (N_CELEB_LINES, f"s < {N_CELEB}",
     "'e:' || STR(s)", "'p:' || STR((s + k) % 8)",
     "'h:' || STR(k)"),
]


def _render(expr: str, dialect: str) -> str:
    """Expand STR()/IDIV() into the target dialect.  Both appear only
    in the non-nested forms used by _BLOCKS (IDIV's arguments never
    contain parentheses), so a scan-and-match expansion suffices."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    out = expr.replace("STR(", f"CAST__(")
    # CAST__(x) -> CAST(x AS <type>): find each marker, then its
    # matching close paren (arguments may contain nested parens)
    while "CAST__(" in out:
        i = out.index("CAST__(")
        depth, j = 0, i + len("CAST__(")
        while True:
            if out[j] == "(":
                depth += 1
            elif out[j] == ")":
                if depth == 0:
                    break
                depth -= 1
            j += 1
        inner = out[i + len("CAST__(") : j]
        out = out[:i] + f"CAST({inner} AS {cast})" + out[j + 1 :]
    while "IDIV(" in out:
        i = out.index("IDIV(")
        depth, j = 0, i + len("IDIV(")
        comma = None
        while True:
            if out[j] == "(":
                depth += 1
            elif out[j] == ")":
                if depth == 0:
                    break
                depth -= 1
            elif out[j] == "," and depth == 0:
                comma = j
            j += 1
        a = out[i + len("IDIV(") : comma].strip()
        b = out[comma + 1 : j].strip()
        op = "div" if dialect == "spark" else "//"
        out = out[:i] + f"(({a}) {op} ({b}))" + out[j + 1 :]
    return out


def zipf_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed (subj, pred, obj) fixture, derived from ``orders``."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("s")
    )
    out: DataFrame | None = None
    for n_k, where, subj, pred, obj in _BLOCKS:
        part = base
        if where is not None:
            part = part.filter(F.expr(_render(where, "spark")))
        if n_k > 1:
            part = part.crossJoin(
                spark.range(n_k).select(F.col("id").alias("k"))
            )
        part = part.selectExpr(
            f"{_render(subj, 'spark')} AS subj",
            f"{_render(pred, 'spark')} AS pred",
            f"{_render(obj, 'spark')} AS obj",
        )
        out = part if out is None else out.unionByName(part)
    assert out is not None
    return out


def zipf_triples_sql() -> str:
    """The identical derivation as a DuckDB SELECT (the oracle's
    ``triples`` CTE body, via ``oracle.cind_sql(triples_sql=...)``)."""
    selects = []
    for n_k, where, subj, pred, obj in _BLOCKS:
        frm = "(SELECT o_orderkey AS s FROM orders) t"
        if n_k > 1:
            frm += f", range({n_k}) r(k)"
        sql = (
            f"SELECT {_render(subj, 'duck')} AS subj, "
            f"{_render(pred, 'duck')} AS pred, "
            f"{_render(obj, 'duck')} AS obj\nFROM {frm}"
        )
        if where is not None:
            sql += f" WHERE {_render(where, 'duck')}"
        selects.append(sql)
    return "\nUNION ALL ".join(selects)

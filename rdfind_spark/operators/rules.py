"""Association-rule mining over unary conditions (reference
``plan/FrequentConditionPlanner.scala:130-194`` — the two AR joins J2/J3
and the confidence filter — expressed as one relational plan).

A rule ``(ante_code, ante_value) ⇒ (cons_code, cons_value)`` states that
every triple satisfying the antecedent condition also satisfies the
consequent; support = co-occurrence count, confidence = support /
antecedent count.  The reference keeps only confidence-1.0 rules for
CIND pruning (``FrequentConditionPlanner.scala:190-191``).
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfind_spark import condition_codes as cc
from rdfind_spark.operators.census import condition_counts
from rdfind_spark.util import materialize

_UNARY = (cc.SUBJECT, cc.PREDICATE, cc.OBJECT)
# binary primary code -> (low-bit field code, high-bit field code)
_BINARY_SPLIT = {
    cc.SUBJECT | cc.PREDICATE: (cc.SUBJECT, cc.PREDICATE),
    cc.SUBJECT | cc.OBJECT: (cc.SUBJECT, cc.OBJECT),
    cc.PREDICATE | cc.OBJECT: (cc.PREDICATE, cc.OBJECT),
}


def ar_implied_cind_keys(rules: DataFrame) -> DataFrame:
    """The 1/1 CINDs implied by confidence-1.0 association rules
    (reference ``operators/FilterAssociationRuleImpliedCinds.scala:47-57``):
    rule ``c1=a ⇒ c2=b`` implies ``q[c1=a] ⊆ q[c2=b]`` where q is the
    remaining field.  Valid field codes are distinct bits summing to 7,
    so the projection field is ``7 - ante - cons`` and the capture code
    is ``field + projection*8`` — pure arithmetic, no lookup table."""
    proj = (F.lit(7) - F.col("ante_code") - F.col("cons_code")) * 8
    return rules.select(
        (F.col("ante_code") + proj).alias("dep_code"),
        F.col("antecedent").alias("dep_v1"),
        (F.col("cons_code") + proj).alias("ref_code"),
        F.col("consequent").alias("ref_v1"),
    )


def filter_ar_implied_cinds(cinds: DataFrame, rules: DataFrame) -> DataFrame:
    """Drop 1/1 CINDs implied by confidence-1.0 association rules (G17).

    The key omits v2 exactly like the reference's probe (its test CIND
    pins both value2 fields to ``''``); binary capture codes can never
    collide with the implied keys' unary codes, so the 4-column anti-join
    is exact.  The rule set is result-sized → broadcast."""
    keys = ar_implied_cind_keys(rules)
    return cinds.join(
        F.broadcast(keys),
        on=["dep_code", "dep_v1", "ref_code", "ref_v1"],
        how="left_anti",
    )


def association_rules(
    triples: DataFrame, min_support: int = 10, min_confidence: float = 1.0
) -> DataFrame:
    """Mine unary⇒unary association rules with support ≥ min_support and
    confidence ≥ min_confidence.  Output: (ante_code, cons_code,
    antecedent, consequent, support, confidence), materialized: the
    rule table is result-sized, and the corpus-sized condition census
    it is built from is released before returning."""
    # counts feeds the unary side plus six directed branches below —
    # without persisting, each branch recomputes the full triple scan +
    # 6-way explode + aggregate (measured 7× at sf0.01).
    counts = condition_counts(triples).persist(StorageLevel.MEMORY_AND_DISK)
    unary = counts.filter(F.col("code").isin(list(_UNARY))).select(
        F.col("code").alias("ante_code"),
        F.col("v1").alias("antecedent"),
        F.col("count").alias("ante_count"),
    )
    binary = counts.filter(F.col("code").isin(list(_BINARY_SPLIT)))

    directed = []
    for bcode, (low, high) in _BINARY_SPLIT.items():
        base = binary.filter(F.col("code") == bcode)
        directed.append(
            base.select(
                F.lit(low).alias("ante_code"),
                F.lit(high).alias("cons_code"),
                F.col("v1").alias("antecedent"),
                F.col("v2").alias("consequent"),
                F.col("count").alias("support"),
            )
        )
        directed.append(
            base.select(
                F.lit(high).alias("ante_code"),
                F.lit(low).alias("cons_code"),
                F.col("v2").alias("antecedent"),
                F.col("v1").alias("consequent"),
                F.col("count").alias("support"),
            )
        )
    rules = reduce(lambda a, b: a.unionByName(b), directed)
    rules = rules.filter(F.col("support") >= min_support)
    out = materialize(
        rules.join(unary, on=["ante_code", "antecedent"])
        .withColumn("confidence", F.col("support") / F.col("ante_count"))
        .filter(F.col("confidence") >= min_confidence)
        .select(
            "ante_code", "cons_code", "antecedent", "consequent", "support", "confidence"
        ),
        "rules",
    )
    counts.unpersist()
    return out

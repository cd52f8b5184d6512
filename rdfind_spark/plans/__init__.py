"""Traversal-strategy facade — the counterpart of the reference's
``plan/`` package (``rdfind-algorithm/.../plan/TraversalStrategy.scala``
and subclasses), mapping each strategy id to its Spark implementation:

====  ==============================  =========================================
 id   reference class                 implementation here
====  ==============================  =========================================
 0    AllAtOnceTraversalStrategy      ``operators.cind.discover_cinds``
 1    SmallToLargeTraversalStrategy   ``discover_cinds(minimal=True)``
 2    ApproximateAllAtOnce...         ``discover_cinds`` (as 0)
 3    LateBBTraversalStrategy         ``discover_cinds`` (as 0)
====  ==============================  =========================================

Every strategy runs the exact path of 0: pair emission is relational,
so neither a Bloom prefilter (2 and 3) nor a candidate lattice climbed
in arity order (1) can skip it (SURVEY §4); the staged lattice measured
slower than the one all-at-once plan on every input tried.  Strategies
2 and 3 keep ``minimal=False``; strategy 1 always returns the minimal
set, as the reference's does.

All strategies return the identical exact CIND set (cross-checked by the
driver oracle and the property tests in ``tests/test_cind_engine.py``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from rdfind_spark.operators.cind import discover_cinds


def traversal(
    triples: DataFrame,
    strategy: int = 1,
    min_support: int = 10,
    minimal: bool = True,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """Dispatch like the reference's ``--traversal-strategy`` switch
    (``programs/RDFind.scala:50-56,652-653``; default 1)."""
    if strategy not in (0, 1, 2, 3):
        raise ValueError(f"unknown traversal strategy {strategy}")
    if strategy == 1 and not minimal:
        # The reference's small-to-large traversal prunes non-minimal
        # CINDs as it climbs; it cannot emit the full set.
        warnings.warn(
            "traversal strategy 1 (small-to-large) always returns the "
            "minimal CIND set; minimal=False is ignored — use strategy "
            "0/2/3 for the full set",
            stacklevel=2,
        )
        minimal = True
    return discover_cinds(
        triples,
        min_support=min_support,
        minimal=minimal,
        ar_filter=ar_filter,
        projection=projection,
    )

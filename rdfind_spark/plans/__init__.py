"""Traversal-strategy facade — the counterpart of the reference's
``plan/`` package (``rdfind-algorithm/.../plan/TraversalStrategy.scala``
and subclasses), mapping each strategy id to its Spark implementation:

====  ==============================  =========================================
 id   reference class                 implementation here
====  ==============================  =========================================
 0    AllAtOnceTraversalStrategy      ``operators.cind.discover_cinds``
 1    SmallToLargeTraversalStrategy   ``operators.staged.discover_cinds_staged``
 2    ApproximateAllAtOnce...         ``discover_cinds`` (as 0)
 3    LateBBTraversalStrategy         ``discover_cinds`` (as 0)
====  ==============================  =========================================

Strategies 2 and 3, the reference's Bloom-prefilter-then-verify family,
run the exact path of 0: pair emission is relational, so a prefilter
cannot skip it (SURVEY §4).  They keep their ids and ``minimal=False``.

All strategies return the identical exact CIND set (cross-checked by the
driver oracle and the property tests in ``tests/test_cind_engine.py``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from rdfind_spark.operators.cind import discover_cinds
from rdfind_spark.operators.staged import discover_cinds_staged


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
    if strategy in (0, 2, 3):
        return discover_cinds(
            triples,
            min_support=min_support,
            minimal=minimal,
            ar_filter=ar_filter,
            projection=projection,
        )
    if strategy == 1:
        if not minimal:
            # The staged lattice traversal prunes non-minimal CINDs as it
            # climbs (that IS the strategy); it cannot emit the full set.
            warnings.warn(
                "traversal strategy 1 (small-to-large) always returns the "
                "minimal CIND set; minimal=False is ignored — use strategy "
                "0/2/3 for the full set",
                stacklevel=2,
            )
        return discover_cinds_staged(
            triples,
            min_support=min_support,
            ar_filter=ar_filter,
            projection=projection,
        )
    raise ValueError(f"unknown traversal strategy {strategy}")

"""Strategy 1, the reference's default SmallToLarge traversal
(``plan/SmallToLargeTraversalStrategy.scala:38-171``), as a facade of
the all-at-once engine.

The reference climbs the CIND lattice in arity order so that Bloom
filters can restrict each evidence pass to the candidates of the
previous class.  Here pair emission is relational and exact (SURVEY
§4), and the staged candidate → verify rounds measured slower than the
one all-at-once plan on every input tried, including binary-dense
grids where the all-at-once pair output is largest.  After minimality
both return the same set, so strategy 1 is ``discover_cinds(minimal=
True)``, as strategies 2 and 3 are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# perfbench/trace.py patches build_capture_tables, capture_overlaps,
# remove_implied_cinds and materialize on this module by attribute, so
# they stay importable here until the engine records its own layers.
from rdfind_spark.operators.cind import (  # noqa: F401
    build_capture_tables,
    capture_overlaps,
    discover_cinds,
    materialize,
    remove_implied_cinds,
)


def discover_cinds_staged(
    triples: DataFrame,
    min_support: int = 10,
    ar_filter: bool = False,
    projection: str | None = None,
) -> DataFrame:
    """The pertinent minimal CINDs of ``triples``: strategy 1 always
    returns the minimal set."""
    return discover_cinds(
        triples, min_support, minimal=True, ar_filter=ar_filter, projection=projection
    )

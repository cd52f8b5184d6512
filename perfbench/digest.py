"""Order-insensitive digest of a CIND set.

A row hashes to the first 60 bits of the SHA-256 of its columns joined by
a unit separator; the digest is the row count plus the exact sum of the
row hashes.  Summing makes it independent of row order and partitioning,
and the same formula runs in plain Python (for the oracle's rows and the
tests) and as a Spark aggregate (observed on the benchmark's sink write,
so checking a run costs no second pass over the result).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Sequence

CIND_COLUMNS = ("dep_code", "dep_v1", "dep_v2", "ref_code", "ref_v1", "ref_v2", "support")
STRING_COLUMNS = ("dep_v1", "dep_v2", "ref_v1", "ref_v2")
SEP = "\x1f"
HEX_DIGITS = 15  # 60-bit row hashes: a sum over 2^20 rows stays below 2^80


def row_hash(row: Sequence) -> int:
    text = SEP.join(str(v) for v in row)
    return int(hashlib.sha256(text.encode("utf-8")).hexdigest()[:HEX_DIGITS], 16)


def digest(rows: Iterable[Sequence]) -> dict:
    """``{"rows": n, "sum": s}`` of rows laid out as ``CIND_COLUMNS``."""
    n = total = 0
    for row in rows:
        n += 1
        total += row_hash(row)
    return {"rows": n, "sum": total}


def spark_digest_aggregates(translate: tuple[str, str] | None = None):
    """The same digest as two Spark aggregate columns (``rows``, ``sum``).

    ``translate``: ``(from, to)`` alphabets applied to the string columns
    first, so a result computed on relabeled input is digested in the
    original labels and compares against one fixed expected digest."""
    from pyspark.sql import functions as F

    def col(name: str):
        c = F.col(name).cast("string")
        if translate is not None and name in STRING_COLUMNS:
            c = F.translate(c, *translate)
        return c

    text = F.concat_ws(SEP, *[col(c) for c in CIND_COLUMNS])
    h = F.conv(F.substring(F.sha2(text, 256), 1, HEX_DIGITS), 16, 10)
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.cast("decimal(20,0)")).alias("sum"),
    )


def observed_digest(values: dict) -> dict:
    """Normalize an observed ``{"rows", "sum"}`` pair (``sum`` is a
    Decimal, or None over an empty result) to the ``digest`` form."""
    return {"rows": int(values["rows"]), "sum": int(values["sum"] or 0)}

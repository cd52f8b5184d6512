"""Establish the benchmark's expected CIND digests with the DuckDB oracle.

    python3 perfbench/establish.py

Writes the base tables of each input source (the same files the
benchmark writes, before relabeling), runs ``oracle.cind_sql`` (minimal,
support >= 10) over them in DuckDB and stores each CIND set's digest in
``perfbench/expected.json``.  Rerun it whenever the input sizes in
``run.py`` or the generators in ``inputs.py`` change.  The staged and
all-at-once workloads share the star-schema digest, so every benchmark
run of ``tpch_staged`` also checks that the two strategies agree.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.digest import CIND_COLUMNS, digest  # noqa: E402
from perfbench.inputs import write_orders_keys, write_star_schema  # noqa: E402
from perfbench.run import EXPECTED, SOURCE_PARAMS, STAR_SF, WORK, ZIPF_ORDERS  # noqa: E402


def oracle_digest(source: str, base: Path) -> dict:
    import duckdb

    from rdfind_spark.oracle import cind_sql
    from rdfind_spark.sources.skew import zipf_triples_sql

    con = duckdb.connect()
    for path in sorted(base.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    sql = cind_sql(minimal=True, triples_sql=zipf_triples_sql() if source == "zipf" else None)
    rows = con.execute(f"SELECT {', '.join(CIND_COLUMNS)} FROM ({sql})").fetchall()
    return digest(rows)


def main() -> int:
    WORK.mkdir(exist_ok=True)
    out = {}
    with tempfile.TemporaryDirectory(dir=WORK) as tmp:
        for source in ("star", "zipf"):
            base = Path(tmp) / source
            if source == "star":
                write_star_schema(str(base), STAR_SF)
            else:
                write_orders_keys(str(base), ZIPF_ORDERS)
            t = time.perf_counter()
            d = oracle_digest(source, base)
            print(f"{source}: {d['rows']} CINDs in {time.perf_counter() - t:.1f}s", file=sys.stderr)
            out[source] = {"params": SOURCE_PARAMS[source], **d}
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Deterministic RDF-shaped skew fixture generator (round-7 verdict
task 2: "build the Zipfian-value CIND fixture").

Every CIND number so far was measured on triple-ized TPC-H, whose value
distribution is benign: no join line comes near HOT_LINE_K, so the
hot-mask decomposition (``_cold_pair_counts_with_hot_masks`` in
operators/cind.py) — the engine's answer to the reference's whole
rebalancing subsystem
(rdfind-algorithm .../programs/RDFind.scala:404-444, built for DBpedia
hub values where |join line|^2 explodes) — has never been tripped at
its REAL thresholds.  This generator produces the DBpedia shape
synthetically:

* ``n_subj`` subjects ("entities"), each with
  - ``n_uniq`` unique-literal triples (names, ids — the support base
    that makes every subject capture frequent),
  - ``n_hub`` hub-object triples whose values are drawn Zipf(s) over
    ``n_values`` shared values (types, countries, categories — the
    skew), and
  - one ``type`` triple over 3 classes (gives known-true CINDs:
    s[obj=T:j] ⊆ s[pred=type] etc., so extraction + minimality have
    real work);
* ``n_celeb`` "celebrity" subjects additionally hold the top
  ``n_celeb_top`` hub values outright — captures living in more than
  ``min_overlap`` distinct HOT lines, which is exactly the "deep
  capture" class of the decomposition's part-2 path.

With s≈1.05 the top hub value lands in ~10% of all hub draws — a join
line of tens of thousands of frequent captures whose pair product a
plain equi-join would materialize on one task.  ``uniform=True``
produces the equal-row-count benign twin (same schema, same counts,
hub values uniform) for the A/B wall-time comparison.

Only numpy + pyarrow; deterministic for a given seed.  Used by
scripts/zipf_cind_probe.py and tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARITY = dict(n_subj=4000, n_values=8000, n_celeb=40)
DEPTH = dict(n_subj=200_000, n_values=200_000, n_celeb=400, n_hub=6)
ABLATE = dict(n_subj=20_000, n_values=20_000, n_celeb=100, n_hub=6)
# many-medium-hubs tier: ~4800 uniform hub values of mean width ~570 —
# nearly every line hot, count past MAX_HOT_MASK=4096, so the mask-cap
# overflow (block-split) path runs at its REAL threshold.  n_hub=8 < the
# min_overlap of 10 keeps subject captures OUT of the deep class (the
# first cut of this fixture used n_hub=36, which made all 100k subject
# captures deep and degenerated part-2 into enumerating the entire
# 2.9B hot pair-product — 60+ GB of shuffle; the deep class here is
# just the ~8 per-predicate captures)
OVERFLOW = dict(
    n_subj=340_000, n_values=4_800, n_hub=8, n_celeb=0, uniform=True
)


def zipf_probs(n_values: int, s: float) -> np.ndarray:
    r = np.arange(1, n_values + 1, dtype=np.float64)
    p = r ** -s
    return p / p.sum()


def _tag(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, ids.astype("U12"))


def generate(
    out_path: str,
    n_subj: int = 4000,
    n_uniq: int = 10,
    n_hub: int = 16,
    n_values: int = 8000,
    s: float = 1.05,
    n_pred: int = 8,
    n_celeb: int = 40,
    n_celeb_top: int = 12,
    uniform: bool = False,
    seed: int = 7,
) -> int:
    """Write the fixture as parquet (subj, pred, obj) at ``out_path``;
    returns the triple count.  ``n_pred`` stays below min_support=10 on
    purpose: predicate-condition captures (p[subj=s], p[obj=v]) then
    can never be frequent, so hotness comes from the hub OBJECT lines —
    the DBpedia shape — not from every predicate line trivially."""
    rng = np.random.default_rng(seed)
    subj_all, pred_all, obj_all = [], [], []

    def block(subj_ids, pred_ids, obj_strs):
        subj_all.append(_tag("e:", subj_ids))
        pred_all.append(pred_ids)
        obj_all.append(obj_strs)

    s_rep = np.repeat(np.arange(n_subj), n_uniq)
    k = np.tile(np.arange(n_uniq), n_subj)
    block(
        s_rep,
        _tag("p:", k % n_pred),
        np.char.add(np.char.add(_tag("u:", s_rep), ":"), k.astype("U12")),
    )

    if uniform:
        hub = rng.integers(0, n_values, size=n_subj * n_hub)
    else:
        hub = rng.choice(n_values, size=n_subj * n_hub, p=zipf_probs(n_values, s))
    s_rep = np.repeat(np.arange(n_subj), n_hub)
    k = np.tile(np.arange(n_hub), n_subj)
    block(s_rep, _tag("p:", (k + s_rep) % n_pred), _tag("h:", hub))

    s_rep = np.arange(n_subj)
    block(
        s_rep,
        np.full(n_subj, "type", dtype="U12"),
        _tag("T:", s_rep % 3),
    )

    if n_celeb:
        s_rep = np.repeat(np.arange(n_celeb), n_celeb_top)
        k = np.tile(np.arange(n_celeb_top), n_celeb)
        block(s_rep, _tag("p:", k % n_pred), _tag("h:", k))

    table = pa.table(
        {
            "subj": np.concatenate(subj_all),
            "pred": np.concatenate(pred_all),
            "obj": np.concatenate(obj_all),
        }
    )
    pq.write_table(table, out_path)
    return table.num_rows


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/zipf_triples.parquet"
    n = generate(out)
    print(f"{n} triples -> {out}")

#!/usr/bin/env python
"""Mean recall@k grid for the ANN variants — seeded vs trained coarse
quantizer, exact scoring vs PQ+ADC, at several rescore depths.

Usage:
    python scripts/pq_recall_grid.py [sf_dir]     (default sf0.01)
    python scripts/pq_recall_grid.py --skewed     (clustered fixture)

Prints one line per cell; the README quotes the tables.

The sf embeddings are UNIFORM random (PQ's adversarial case, no
cluster structure), so first-N-by-id seeding is already a random (=
good) centroid sample and trained ties seeded — those numbers are
recall FLOORS, not evidence about training.  ``--skewed`` builds the
fixture the trained path exists for: Gaussian blobs with ID-CORRELATED
placement (vec_ids assigned sorted by blob, the crawl-order-correlates-
with-content shape), so the first-8 seed centroids all land inside one
blob and the seeded coarse index concentrates; the query workload
(vec_id < 5) then also sits in that first blob, exactly as a
first-crawled source would.  Same n/dim as sf0.01 (500 x 64),
deterministic (fixed numpy seed, written once to /tmp).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rdfind_spark.functions import similarity as sim
from rdfind_spark.session import spark_session

SKEW_N = 500
SKEW_DIM = 64
SKEW_BLOBS = 16
SKEW_NOISE = 0.35  # intra-blob cosine ~0.8-0.9, inter ~0


def build_skewed_fixture(spark, path: str):
    """Gaussian-blob embeddings with vec_id sorted by blob (id order
    correlates with content).  numpy only at fixture-build time —
    deterministic via fixed seed, never in a query path."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(SKEW_BLOBS, SKEW_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    blob = np.sort(rng.integers(0, SKEW_BLOBS, size=SKEW_N))  # id-sorted
    pts = centers[blob] + SKEW_NOISE * rng.normal(size=(SKEW_N, SKEW_DIM))
    rows = [
        (int(i), [float(x) for x in pts[i]], int(blob[i]))
        for i in range(SKEW_N)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def print_grid(embs, tag: str):
    def mean_recall(df):
        return round(df.agg(F.avg("recall_at_k")).collect()[0][0], 3)

    print(
        f"# [{tag}] exact-scoring ceilings: seeded",
        mean_recall(sim.knn_ivf_recall(embs)),
        "trained",
        mean_recall(sim.knn_ivf_trained_recall(embs)),
        flush=True,
    )
    for rescore in (30, 50, 80):
        seeded = mean_recall(sim.knn_ivf_pq_recall(embs, rescore=rescore))
        trained = mean_recall(
            sim.knn_ivf_pq_trained_recall(embs, rescore=rescore)
        )
        print(
            f"# [{tag}] rescore={rescore}: pq_seeded={seeded} "
            f"pq_trained={trained}",
            flush=True,
        )



def _kmeanspp_like(q, k, spread_seeds, _train_centroids, _km_argmax):
    """Oversample-then-prune (k-means||-flavored, deterministic):
    greedy-spread 2k seeds, 2 Lloyd rounds at 2k, keep the k largest
    clusters (ties by cid), converge at k."""
    from pyspark.sql import functions as F

    c2k = _train_centroids(q, 2 * k, 2, seeds=spread_seeds(q, 2 * k))
    sizes = {
        r["centroid_id"]: r["n"]
        for r in _km_argmax(q, c2k)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    keep = set(sorted(sizes, key=lambda c: (-sizes[c], c))[:k])
    return _train_centroids(
        q, k, 5, seeds=[(cid, vec) for cid, vec in c2k if cid in keep]
    )

def decoupled_workload_recall(spark, embs, n_probe=2, k=10):
    """Index quality for a query workload DECOUPLED from the seed
    prefix.  The registered `*_recall` queries pin queries = vec_id <
    5, which on an id-sorted corpus is the same blob as every seed
    centroid — maximally seed-favorable (a query probing buckets built
    from its own blob's vectors always finds its neighbors).  The
    melted-index failure mode the trained path exists for hits the
    OTHER blobs: their vectors' argmax over 8 near-identical blob-0
    centroids is decided by the noise component, scattering each blob's
    members ~uniformly over all buckets, so probing n_probe of 8 caps
    recall near n_probe/8.  Measure that directly: recall@k over 2
    members of EVERY blob, buckets per the engine's own assignment
    functions, ground truth = exact float cosine (numpy — this is a
    measurement, not an oracle)."""
    import numpy as np

    from rdfind_spark.functions.similarity import (
        KMEANS_ITERS,
        N_CENTROIDS,
        _km_argmax,
        _quantized,
        _train_centroids,
        ivf_assignments,
        spread_seeds,
    )

    rows = embs.select("vec_id", "embedding", "label").collect()
    rows.sort(key=lambda r: r.vec_id)
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    S = En @ En.T
    np.fill_diagonal(S, -2.0)
    blob = np.array([r.label for r in rows])
    # 2 query ids per blob, skipping the seed prefix where possible
    queries = []
    for b in sorted(set(blob.tolist())):
        ids = [i for i in np.flatnonzero(blob == b) if i >= N_CENTROIDS]
        queries.extend(ids[:2])

    q = embs.select("vec_id", _quantized("embedding").alias("q"))
    trained_cents = _train_centroids(q, N_CENTROIDS, KMEANS_ITERS)
    # the documented next lever: farthest-point spread init instead of
    # the concentrated first-N prefix, same Lloyd recurrence after
    sseeds = spread_seeds(q, N_CENTROIDS)
    spread_cents = _train_centroids(q, N_CENTROIDS, KMEANS_ITERS, seeds=sseeds)
    spread_conv = _train_centroids(q, N_CENTROIDS, 5, seeds=sseeds)

    def _cd(cents):
        return (
            {r.vec_id: r.centroid_id for r in _km_argmax(q, cents).collect()},
            {cid: np.array(vec, dtype=np.float64) for cid, vec in cents},
        )

    variants = {
        # (assignment map, centroid vectors the engine probes by)
        "seeded": (
            {r.vec_id: r.centroid_id for r in ivf_assignments(embs).collect()},
            {cid: E[cid] for cid in range(N_CENTROIDS)},
        ),
        "trained": _cd(trained_cents),
        "trained_spread": _cd(spread_cents),
        "trained_spread_5it": _cd(spread_conv),
        # capacity study: with k=8 < 16 blobs a blob-aligned bucketing
        # is structurally impossible (each bucket must merge blobs), so
        # ~0.5 is near the ceiling for ANY init at probe fraction 2/8.
        # At k=16 (same 1/4 probe fraction via n_probe=4 below) the
        # init decides whether Lloyd recovers the blob structure.
        "trained_k16": (
            _cd(_train_centroids(q, 16, 5)),
            16,
        ),
        "trained_spread_k16": (
            _cd(_train_centroids(q, 16, 5, seeds=spread_seeds(q, 16))),
            16,
        ),
        # k-means||-style: oversample 2k spread seeds, 2 Lloyd rounds,
        # keep the k largest clusters, converge — outlier seeds should
        # be pruned by cluster size... (measured: they are not enough)
        "trained_spread2x_prune_k16": (
            _cd(_kmeanspp_like(q, 16, spread_seeds, _train_centroids, _km_argmax)),
            16,
        ),
        # ORACLE init from the true blob means — the ceiling any init
        # could reach; numpy at study time only, never a query path
        "oracle_blobmean_k16": (
            _cd(
                _train_centroids(
                    q,
                    16,
                    5,
                    seeds=[
                        (
                            int(b),
                            [
                                int(np.floor(x * 1_000_000))
                                for x in E[blob == b].mean(axis=0)
                            ],
                        )
                        for b in sorted(set(blob.tolist()))
                    ],
                )
            ),
            16,
        ),
    }
    for tag, spec in variants.items():
        if len(spec) == 2 and isinstance(spec[1], int):
            (amap, cvecs), kk = spec
            probe_n = n_probe * kk // N_CENTROIDS  # constant probe fraction
        else:
            amap, cvecs = spec
            probe_n = n_probe
        buckets = {}
        for vid, cid in amap.items():
            buckets.setdefault(cid, []).append(vid)
        cn = {
            cid: v / np.linalg.norm(v) for cid, v in cvecs.items()
        }
        recalls = []
        for qi in queries:
            exact = set(np.argsort(-S[qi])[:k].tolist())
            # probe exactly as the engine does: top n_probe centroids
            # by cosine(query, centroid vector)
            scored = sorted(
                ((float(En[qi] @ cv), cid) for cid, cv in cn.items()),
                reverse=True,
            )
            probed = [cid for _, cid in scored[:probe_n]]
            cand = {
                v for cid in probed for v in buckets.get(cid, []) if v != qi
            }
            recalls.append(len(exact & cand) / k)
        occ = sorted(len(v) for v in buckets.values())
        print(
            f"# [skewed/decoupled] {tag}: mean recall@{k} over "
            f"{len(queries)} all-blob queries = "
            f"{round(float(np.mean(recalls)), 3)} (probe {probe_n})  "
            f"bucket occupancy min/median/max = {occ[0]}/"
            f"{occ[len(occ) // 2]}/{occ[-1]} over {len(occ)} buckets",
            flush=True,
        )


GRID_N = 20_000


def build_grid_fixture(spark, path: str):
    """Blob fixture for the (k, n_probe) tuning grid: same 16-blob
    shape as the skewed study but 20k vectors and UNSORTED ids, so the
    engine's `vec_id < n_queries` workload spans all blobs (the
    decoupled regime) and wall-times are big enough to mean
    something."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(SKEW_BLOBS, SKEW_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    blob = rng.integers(0, SKEW_BLOBS, size=GRID_N)  # NOT id-sorted
    pts = centers[blob] + SKEW_NOISE * rng.normal(size=(GRID_N, SKEW_DIM))
    rows = [
        (int(i), [float(x) for x in pts[i]], int(blob[i]))
        for i in range(GRID_N)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(4).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def tuning_grid(spark, embs, n_queries: int = 32, k: int = 10):
    """The production-knob grid the skew study concluded with ("the
    levers are k and n_probe"): k_centroids x probe-fraction, each cell
    the ENGINE's own trained-IVF path end-to-end (training + assignment
    + probe + re-rank), wall-clock timed, recall against float-exact
    cosine ground truth (numpy, measurement only).  avg_cand = mean
    candidate rows scored per query — the number that scales with
    corpus size at 100 TB (cost ~ n * n_probe / k_centroids), where
    wall-time here is dominated by the fixed Spark overhead instead."""
    import time as _time

    import numpy as np

    rows = embs.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    Sq = En[:n_queries] @ En.T
    for i in range(n_queries):
        Sq[i, i] = -2.0
    exact = {
        qi: set(np.argsort(-Sq[qi])[:k].tolist()) for qi in range(n_queries)
    }

    from rdfind_spark.functions.similarity import _km_argmax, _quantized, _train_centroids

    q = embs.select("vec_id", _quantized("embedding").alias("q"))
    print("# cell format: k_centroids/n_probe: recall@10, avg candidates/query, wall s")
    for k_c in (8, 16, 32):
        cents = _train_centroids(q, k_c, 5)
        occ = {
            r.centroid_id: r.n
            for r in _km_argmax(q, cents)
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        sizes = sorted(occ.get(c, 0) for c in range(k_c))
        for frac_name, n_probe in (
            ("1/8", max(1, k_c // 8)),
            ("1/4", max(1, k_c // 4)),
            ("1/2", max(1, k_c // 2)),
        ):
            t0 = _time.time()
            got = sim.knn_ivf_trained(
                embs,
                n_queries=n_queries,
                k=k,
                n_centroids=k_c,
                iters=5,
                n_probe=n_probe,
            ).collect()
            dt = _time.time() - t0
            by_q: dict[int, set] = {}
            for r in got:
                by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
            recall = float(
                np.mean(
                    [
                        len(exact[qi] & by_q.get(qi, set())) / k
                        for qi in range(n_queries)
                    ]
                )
            )
            # candidate rows scored per query = sum of probed bucket
            # sizes (upper bound; probe choice varies per query, use
            # mean bucket size x n_probe)
            avg_cand = n_probe * (sum(sizes) / len(sizes))
            print(
                f"# [grid] k={k_c:2d} probe={n_probe:2d} ({frac_name}): "
                f"recall@{k}={recall:.3f} avg_cand={avg_cand:,.0f} "
                f"wall={dt:.1f}s bucket min/med/max="
                f"{sizes[0]}/{sizes[len(sizes) // 2]}/{sizes[-1]}",
                flush=True,
            )


def main() -> int:
    skewed = "--skewed" in sys.argv[1:]
    grid = "--grid" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    spark = spark_session("pq-recall-grid")
    if grid:
        embs = build_grid_fixture(spark, "/tmp/grid_embeddings.parquet")
        print(
            f"# grid fixture: n={GRID_N} dim={SKEW_DIM} blobs={SKEW_BLOBS} "
            f"noise={SKEW_NOISE} (ids unsorted)"
        )
        tuning_grid(spark, embs)
        spark.stop()
        return 0
    if skewed:
        embs = build_skewed_fixture(spark, "/tmp/skewed_embeddings.parquet")
        print(
            f"# skewed fixture: n={SKEW_N} dim={SKEW_DIM} blobs={SKEW_BLOBS} "
            f"noise={SKEW_NOISE} (ids sorted by blob)"
        )
        print_grid(embs, "skewed")
        decoupled_workload_recall(spark, embs)
    else:
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        print(f"# sf_dir={sf_dir}")
        print_grid(embs, "uniform")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


"""IVF (inverted-file) ANN index — the centroid-partitioned alternative
to sign-LSH (operators/ann.py), same REINDEX/SEARCH contract.

Build (offline, one distributed pass + tiny driver-side k-means):
  1. sample ≤ ``train_sample`` vectors to the driver;
  2. spherical k-means (seeded numpy, a few Lloyd iterations) →
     ``n_centroids`` unit centroids;
  3. assign every row to its nearest centroid via one Arrow-batched
     matmul (argmax of dot products — vectors are compared on the unit
     sphere, so max-dot == min-L2);
  4. rewrite the snapshot ``partitionBy("bucket")`` exactly like the LSH
     layout, record centroids + histogram in collection meta.

Search: rank centroids by distance to the query driver-side, take
buckets until the histogram covers ``candidate_factor × k`` rows
(monotone recall knob, exact in the limit), then exact scoring. The
query lists and scans only its probed ``bucket=`` dirs
(``Collection.read_buckets``), never the whole snapshot.

IVF vs sign-LSH: IVF adapts to the data distribution (centroids land
where vectors are), so on clustered corpora it prunes far better; LSH is
data-oblivious (no training pass, stable under drift). Both are exposed;
REINDEX picks via ``kind``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrod_spark.operators.knn import knn_exact

SEED = 42


def _spherical_kmeans(sample: np.ndarray, k: int, iters: int = 10, seed: int = SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    unit = sample / np.where(norms == 0, 1, norms)
    centroids = unit[rng.choice(len(unit), size=min(k, len(unit)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(unit @ centroids.T, axis=1)
        for ci in range(len(centroids)):
            members = unit[assign == ci]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    centroids[ci] = c / n
    return centroids


def ivf_assign_expr(
    spark,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    proj: np.ndarray | None = None,
):
    """Nearest-centroid bucket assignment as an Arrow-batched column
    expression (broadcast centroid matrix, one matmul per batch). Shared by
    the REINDEX rewrite and the O(delta) indexed-INSERT path.

    With ``proj`` (a JL matrix from functions/vector.random_projection_
    matrix — out_dim × in_dim), vectors are projected BEFORE the
    nearest-centroid rule and the centroids live in projected space: the
    assignment cost per row drops from O(in_dim·k) to O(out_dim·k) plus
    one dgemv — the standard coarse-quantizer shrink for wide embeddings.
    The projection is applied per row (dgemv, batch-shape independent) so
    a delta append assigns bit-identically to the full rewrite."""
    cb = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    pb = spark.sparkContext.broadcast(
        None if proj is None else np.asarray(proj, dtype=np.float64)
    )

    @F.pandas_udf("int")
    def assign(vecs):
        import numpy as np
        import pandas as pd

        cents = cb.value
        pmat = pb.value
        if pmat is not None:
            mat = np.array(
                [pmat @ np.asarray(v, dtype=np.float64) for v in vecs.tolist()]
            )
        else:
            mat = np.array(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.where(norms == 0, 1, norms)
        return pd.Series(np.argmax(unit @ cents.T, axis=1).astype(np.int32))

    return assign(F.col(vec_col))


def reindex_ivf(
    collection,
    *,
    n_centroids: int = 64,
    train_sample: int = 10_000,
    seed: int = SEED,
    project_dim: int | None = None,
    project_seed: int = 0,
) -> dict:
    """Fit centroids, rewrite the snapshot centroid-partitioned, commit.

    ``project_dim`` composes a JL random projection into the coarse
    quantizer: train + assign + probe in projected space (cheap), rescore
    candidates with EXACT full-dimension distances in ``ivf_search``
    (unchanged) — the two-stage recipe for wide embeddings (the
    reference's 384-dim fastembed output). Only (dim, seed) persist in
    the index meta; the matrix regenerates deterministically."""
    meta = collection.meta
    if meta.get("dimension") is None:
        return {"collection": collection.name, "indexed": False, "reason": "no vectors"}

    proj = None
    if project_dim is not None:
        from vrod_spark.functions.vector import random_projection_matrix

        proj = random_projection_matrix(
            int(meta["dimension"]), int(project_dim), int(project_seed)
        )

    base = collection.version
    df = collection.read(base)
    # Deterministic bounded sample (xxhash64-smallest rows — a pure
    # function of the data): ``df.sample`` seeds per PARTITION, so the
    # trained centroids — and search recall — would vary with the
    # snapshot's file listing order across otherwise-identical builds.
    sample_rows = (
        df.select(F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
        .limit(train_sample)
        .collect()
    )
    if not sample_rows:
        # Zero-row snapshot (e.g. everything deleted since the dimension
        # was pinned): k-means on an empty sample is a numpy AxisError —
        # declare nothing to index instead (r11 review).
        return {"collection": collection.name, "indexed": False, "reason": "no rows"}
    sample = np.array([r["v"] for r in sample_rows], dtype=np.float64)
    if proj is not None:
        # per-row dgemv, matching the distributed assign path bit-exactly
        sample = np.array([proj @ v for v in sample])
    centroids = _spherical_kmeans(sample, n_centroids, seed=seed)
    bucketed = df.withColumn(
        "bucket", ivf_assign_expr(df.sparkSession, centroids, "embedding", proj=proj)
    )
    with collection.staging_dir() as staging:
        collection.write_bucketed(bucketed, staging, len(centroids))
        histogram = collection.bucket_histogram(staging)
        index_meta = {
            "kind": "ivf",
            "n_centroids": int(len(centroids)),
            "seed": seed,
            "centroids": [[float(x) for x in c] for c in centroids],
            "histogram": histogram,
        }
        if proj is not None:
            index_meta["project_dim"] = int(project_dim)
            index_meta["project_seed"] = int(project_seed)
        collection.commit_staged_index(
            staging,
            base_version=base,
            index=index_meta,
            op_detail={"kind": "ivf", "buckets": len(histogram)},
        )
    return {
        "collection": collection.name,
        "indexed": True,
        "kind": "ivf",
        "buckets": len(histogram),
    }


def ivf_candidate_buckets(
    index_meta: dict, vector: list[float], k: int, candidate_factor: int = 8
) -> list[int]:
    centroids = np.asarray(index_meta["centroids"], dtype=np.float64)
    histogram = {int(b): int(n) for b, n in index_meta["histogram"].items()}
    q = np.asarray(vector, dtype=np.float64)
    if index_meta.get("project_dim") is not None:
        from vrod_spark.functions.vector import random_projection_matrix

        q = random_projection_matrix(
            len(vector),
            int(index_meta["project_dim"]),
            int(index_meta.get("project_seed", 0)),
        ) @ q
    nq = np.linalg.norm(q)
    qu = q / nq if nq else q
    order = np.argsort(-(centroids @ qu))  # nearest centroid first
    want = max(candidate_factor * k, 64)
    chosen, have = [], 0
    for ci in order:
        n = histogram.get(int(ci), 0)
        if n == 0:
            continue
        chosen.append(int(ci))
        have += n
        if have >= want:
            break
    return chosen or [int(order[0])]


def ivf_search(
    collection, vector: list[float], k: int, *, candidate_factor: int = 8,
    snapshot: tuple | None = None,
) -> DataFrame:
    """Probe nearest centroids, then exact-score only their bucket dirs of
    ``snapshot`` = ``(version, meta, live index)``
    (``Collection.snapshot()``, the current one by default), which must
    carry a live IVF index."""
    version, meta, index_meta = snapshot or collection.snapshot()
    buckets = ivf_candidate_buckets(index_meta, vector, k, candidate_factor)
    return knn_exact(
        collection.read_buckets(version, buckets),
        vector,
        k,
        vec_col="embedding",
        id_col="id",
        metric=meta.get("metric", "l2"),
        payload_cols=("payload",),
    )

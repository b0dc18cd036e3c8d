"""Approximate nearest-neighbor index: REINDEX + bucketed SEARCHSIMILAR.

The reference declares REINDEX (/root/reference/src/command/builder.rs:73-76)
with an empty body; its evident purpose is "rebuild the collection's ANN
structure". Spark realization — sign-random-projection LSH with a
physically bucket-partitioned rewrite:

- **REINDEX**: draw ``n_planes`` deterministic hyperplanes (seeded numpy),
  compute each record's bucket = sign-bit pattern of its projections
  (pure ``zip_with``/``aggregate`` expressions, JVM-side), and rewrite the
  snapshot ``partitionBy("bucket")`` — one file per bucket dir, written by
  ``min(2^planes, spark.sql.shuffle.partitions)`` tasks
  (``Collection.write_bucketed``). Plane matrix + per-bucket histogram
  go into collection meta. At 100 TB the rewrite is one distributed job,
  and afterwards a query touches only matching bucket directories — the
  scan cost drops from O(N) to O(N / 2^planes × probes).
- **SEARCH**: compute the query's bucket driver-side, pick candidate
  buckets in increasing Hamming distance until the histogram says we have
  ≥ ``candidate_factor × k`` candidate rows, then exact-score only those
  buckets. The query lists and scans only its probed ``bucket=`` dirs
  (``Collection.read_buckets``, schema given): planning is O(probes), not
  O(2^planes), and the search is one Spark job (scan →
  TakeOrderedAndProject).

This is engine-level routing, not a Catalyst extension (SURVEY §4.2: the
planner stays stock).

**Recall characteristics.** Sign-LSH collision probability per plane is
``1 - θ/π`` (θ = angle between vectors), so recall depends on how much
closer true neighbors are than random pairs. The driver test embeddings
are *uniform on the unit sphere* (no cluster structure), the worst case:
there recall ≈ scanned fraction, and the honest knob is
``candidate_factor`` (monotone: more candidates → more recall, exact in
the limit). On real embedding corpora — which cluster heavily — the same
index concentrates neighbors into few buckets and prunes most of the scan.
"""

from __future__ import annotations

import itertools
import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vrod_spark.operators.knn import knn_exact

DEFAULT_PLANES = 8
SEED = 42


def _planes(dimension: int, n_planes: int, seed: int = SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dimension))


def bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """bucket = Σ_i (dot(v, plane_i) > 0) << i, as built-in expressions.

    Built as ONE SQL parse: the per-plane Column composition (zip_with +
    aggregate lambdas + a 64-element literal array each) cost ~100 ms of
    py4j round-trips per table on the driver — pure cold-plan floor. The
    parsed tree is the identical Catalyst expression (differential-tested
    against the Column form). At runtime it is evaluated JVM-side but
    interpreted: ``aggregate`` and ``zip_with`` are CodegenFallback
    expressions inside the generated stage (an unrolled codegen form
    measured slower; PERF.md)."""
    from vrod_spark.functions.vector import vector_lit_sql

    terms = []
    for i, plane in enumerate(planes):
        arr = vector_lit_sql(plane.tolist())
        proj = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            "(x, y) -> cast(x as double) * y), 0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(case when {proj} > 0 then {1 << i} else 0 end)")
    return F.expr(" + ".join(terms))


def _query_bucket(vector: list[float], planes: np.ndarray) -> int:
    bits = (planes @ np.asarray(vector, dtype=np.float64)) > 0
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def _buckets_by_hamming(center: int, n_planes: int):
    """Yield buckets in increasing Hamming distance from `center`."""
    for dist in range(n_planes + 1):
        for flips in itertools.combinations(range(n_planes), dist):
            b = center
            for f in flips:
                b ^= 1 << f
            yield b, dist


def reindex_collection(collection, *, n_planes: int = DEFAULT_PLANES, seed: int = SEED) -> dict:
    """Fit LSH planes, rewrite the snapshot bucket-partitioned into a
    STAGING dir, then commit through the locked conflict-checked tail
    (`Collection.commit_staged_index` — r11 review: the unlocked commit
    could silently drop a concurrent INSERT). The staging write is
    `Collection.write_bucketed`: one file per bucket dir, partition
    pruning serves bucket scans, and its task count follows the session
    (``min(2^n_planes, shuffle.partitions)``), not the bucket count.
    Installations with huge per-bucket volumes raise ``n_planes`` (scan
    cost is O(N / 2^planes), so buckets stay bounded). The histogram
    comes from the staged files' parquet footers, not a second scan."""
    import os
    import shutil
    import uuid

    meta = collection.meta
    dimension = meta.get("dimension")
    if dimension is None:
        # Empty / dim-less collection: nothing to index yet.
        collection.update_meta(index=None)
        return {"collection": collection.name, "indexed": False, "reason": "no vectors"}
    base = collection.version
    planes = _planes(dimension, n_planes, seed)
    df = collection.read().withColumn("bucket", bucket_expr("embedding", planes))

    staging = os.path.join(collection.path, f".staging-{uuid.uuid4().hex}")
    try:
        collection.write_bucketed(df, staging, 1 << n_planes)
        histogram = collection.bucket_histogram(staging)
        if not histogram:
            # Zero rows: an empty bucketed snapshot is unreadable (no
            # partition dirs to infer from) — declare nothing to index.
            shutil.rmtree(staging, ignore_errors=True)
            collection.update_meta(index=None)
            return {
                "collection": collection.name,
                "indexed": False,
                "reason": "no rows",
            }
        collection.commit_staged_index(
            staging,
            base_version=base,
            index={
                "kind": "sign_lsh",
                "n_planes": n_planes,
                "seed": seed,
                "planes": [[float(x) for x in p] for p in planes],
                "histogram": histogram,
            },
            op_detail={"n_planes": n_planes, "buckets": len(histogram)},
        )
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return {
        "collection": collection.name,
        "indexed": True,
        "n_planes": n_planes,
        "buckets": len(histogram),
    }


def _buckets_by_margin(center: int, margins: np.ndarray):
    """Query-directed MULTI-PROBE order (Lv et al., "Multi-Probe LSH",
    VLDB 2007): flipping bit ``i`` crosses hyperplane ``i``, and the
    query's chance of a true neighbor on the other side decays with the
    projection magnitude |q·plane_i| — so probe buckets in increasing
    TOTAL FLIPPED MARGIN, not raw Hamming distance. Hamming order treats
    a barely-decided bit and an emphatic one the same; margin order
    visits the barely-decided flips first, buying more recall per
    scanned row at the identical candidate budget. Exhaustive over all
    2^n buckets, so the exact-in-the-limit contract is unchanged."""
    n_planes = len(margins)
    masks = np.arange(1 << n_planes, dtype=np.int64)
    bits = (masks[:, None] >> np.arange(n_planes)[None, :]) & 1
    cost = bits @ np.asarray(margins, dtype=np.float64)
    # Stable sort: equal-cost ties (e.g. the zero-flip mask) keep
    # ascending-mask order — deterministic across runs.
    for mask in masks[np.argsort(cost, kind="stable")]:
        yield center ^ int(mask)


def candidate_buckets(
    index_meta: dict, vector: list[float], k: int, candidate_factor: int = 8
) -> list[int]:
    planes = np.asarray(index_meta["planes"])
    n_planes = int(index_meta["n_planes"])
    histogram = {int(b): int(n) for b, n in index_meta["histogram"].items()}
    center = _query_bucket(vector, planes)
    want = max(candidate_factor * k, 64)
    margins = np.abs(planes @ np.asarray(vector, dtype=np.float64))
    if n_planes <= 16:
        probe_order = _buckets_by_margin(center, margins)
    else:
        # 2^n enumeration stops being driver-cheap; fall back to Hamming
        # shells (large-plane configs are not the engine default).
        probe_order = (b for b, _d in _buckets_by_hamming(center, n_planes))
    chosen, have = [], 0
    for bucket in probe_order:
        n = histogram.get(bucket, 0)
        if n == 0:
            continue
        chosen.append(bucket)
        have += n
        if have >= want:
            break
    return chosen or [center]


def ann_search_bucketed(
    collection, vector: list[float], k: int, *, candidate_factor: int = 8,
    snapshot: tuple | None = None,
) -> DataFrame:
    """LSH fast path: prune to candidate buckets, exact-score, top-k,
    reading only those buckets' dirs of ``snapshot`` =
    ``(version, meta, live index)`` (``Collection.snapshot()``, the
    current one by default), which must carry a live sign-LSH index."""
    version, meta, index_meta = snapshot or collection.snapshot()
    buckets = candidate_buckets(index_meta, vector, k, candidate_factor)
    return knn_exact(
        collection.read_buckets(version, buckets),
        vector,
        k,
        vec_col="embedding",
        id_col="id",
        metric=meta.get("metric", "l2"),
        payload_cols=("payload",),
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str = "id") -> float:
    """Fraction of the exact top-k the approximate result recovered."""
    exact_ids = {r[id_col] for r in exact.select(id_col).collect()}
    approx_ids = {r[id_col] for r in approx.select(id_col).collect()}
    if not exact_ids:
        return math.nan
    return len(exact_ids & approx_ids) / len(exact_ids)

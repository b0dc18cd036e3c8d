"""Product quantization (PQ): vector compression + asymmetric-distance search.

The memory side of ANN that sign-LSH/IVF (bucket pruning) don't cover:
at 100 TB of embeddings the vectors themselves are the cost — a 64-dim
float32 vector is 256 B, its PQ code is ``m`` bytes (32× smaller at
m=8). PQ splits each vector into ``m`` subspaces, k-means-quantizes each
subspace to 2^nbits centroids (the codebook), and stores only the
per-subspace centroid indices. Search uses the ADC (asymmetric distance
computation) scheme of Jégou et al., "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011): the query stays un-quantized, a per-query
(m × k) distance table is computed once driver-side, and each stored
code's approximate distance is m table lookups — no decompression.

Scale design:
- **training is bounded**: codebooks are fit on a deterministically
  hash-sampled subset (``sample_size`` rows max — same bounded-collect
  class as the IVF trainer), never the full corpus; numpy Lloyd
  iterations on 65k × dim floats are milliseconds.
- **encoding/search shuffle nothing**: both are ``mapInPandas`` over the
  stored codes; the (m, k, dsub) codebook array (~64 KB at defaults)
  ships inside the closure (on a real cluster, a broadcast variable —
  the seam is the closure capture, one line). Top-k goes through
  ``orderBy().limit(k)`` → TakeOrderedAndProject, the same pinned plan
  shape as exact kNN.
- **composes with IVF**: IVF prunes WHICH vectors to score (bucket
  partition pruning, operators/ivf.py); PQ shrinks WHAT is scored.
  IVF-PQ is the standard pairing — run ``pq_search`` over an IVF
  bucket's rows.

vRod parity: SEARCHSIMILAR (src/command/builder.rs:68-72) declares kNN
over stored embeddings; PQ is the [N] scale path for the memory axis,
beside the recall axis the LSH/IVF indexes cover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pq_fit(x, *, m: int = 8, nbits: int = 8, iters: int = 12, seed: int = 7):
    """Numpy k-means core shared by raw and residual training: fit PQ
    codebooks on an (n, dim) sample, returning (m, k, dim/m) with
    k = 2^nbits. Deterministic for a fixed sample and seed."""
    import numpy as np

    if nbits < 1 or nbits > 8:
        raise ValueError("nbits must be in 1..8 (codes are stored as bytes)")
    k = 1 << nbits
    x = np.asarray(x, dtype=np.float64)
    if not len(x):
        raise ValueError("pq_fit: empty sample")
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    codebooks = np.empty((m, k, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        # k-means++-lite init: distinct random picks; fewer points than
        # centroids duplicates picks, which the empty-cluster reseed fixes.
        idx = rng.choice(len(sub), size=min(k, len(sub)), replace=False)
        cent = sub[idx]
        if len(cent) < k:
            cent = np.vstack([cent, cent[rng.integers(0, len(cent), k - len(cent))]])
        x2 = (sub * sub).sum(axis=1)[:, None]
        for _ in range(iters):
            # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 via one matmul — the
            # broadcasted (n, k, dsub) difference tensor would be ~1 GB
            # of transients per iteration at default sample_size.
            d2 = x2 - 2.0 * (sub @ cent.T) + (cent * cent).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            empties = []
            for c in range(k):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
                else:
                    empties.append(c)
            if empties:
                # Deterministic reseed: the i-th empty slot claims the i-th
                # FARTHEST point (distance to its assigned centroid), each
                # point used at most once — reseeding every empty cluster
                # to the same argmax would collapse them into duplicate
                # centroids and silently shrink the codebook (ADVICE r7).
                far = np.argsort(-d2.min(axis=1), kind="stable")
                for i, c in enumerate(empties):
                    cent[c] = sub[far[i % len(far)]]
        codebooks[j] = cent
    return codebooks


def pq_train(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    sample_size: int = 65536,
    iters: int = 12,
    seed: int = 7,
):
    """Fit PQ codebooks from a DataFrame: bounded deterministic sample
    (the ``sample_size`` rows with the smallest xxhash64(vector) — a
    pure function of the data, independent of partitioning) fed to
    :func:`pq_fit`."""
    rows = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: empty input")
    return pq_fit(
        [r["v"] for r in rows], m=m, nbits=nbits, iters=iters, seed=seed
    )


def opq_rotation(x, m: int):
    """OPQ-style rotation (non-parametric, after Ge et al., "Optimized
    Product Quantization", CVPR 2013): rotate to the PCA basis, then
    PERMUTE components so each of the ``m`` subspaces receives a
    balanced share of the VARIANCE (greedy eigenvalue-sum allocation).
    Plain PQ assumes the subspaces carry comparable, independent energy;
    on correlated/anisotropic embeddings a few directions dominate and
    whole codebooks are wasted on near-constant coordinates — the
    rotation decorrelates and balances before quantization, at zero
    runtime cost beyond one (d × d) matmul per encoded batch / one per
    query. Deterministic: eigh + stable greedy allocation.

    Allocation note: the paper balances eigenvalue PRODUCTS, a rule
    derived under high-rate quantizer assumptions. At the small
    codebooks this engine defaults to (2^nbits ≤ 256 centroids per
    subspace), product-balancing measured WORSE than no rotation on
    mixed anisotropic data (ADC recall 0.30 vs 0.58), while
    SUM-balancing beat every alternative on both axis-aligned and
    randomly-mixed anisotropy (0.75/0.66 vs 0.35/0.58 unrotated) — so
    sum-balancing is what ships, with the measurement pinned in
    test_opq_rotation_improves_anisotropic_recall."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    centered = x - x.mean(axis=0)
    cov = centered.T @ centered / max(len(x), 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(-w, kind="stable")
    w, v = w[order], v[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = [0.0] * m
    for i in range(d):
        j = min(
            (j for j in range(m) if len(buckets[j]) < dsub),
            key=lambda j: (sums[j], j),
        )
        buckets[j].append(i)
        sums[j] += float(w[i])
    perm = [i for b in buckets for i in b]
    return v[:, perm].T  # rows are the rotated coordinates: x' = R @ x


def pq_encode(
    df: DataFrame,
    codebooks,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, code BINARY)`` — each vector compressed to m bytes (one
    codebook index per subspace). Arrow-batched numpy argmin; the blob
    of floats never leaves its partition."""
    import numpy as np

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                # Yield nothing: an empty pandas frame types its []
                # columns float64, which Arrow can't cast to binary.
                continue
            x = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # Same matmul expansion as pq_train: no 3D temporaries.
                d2 = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ cb[j].T)
                    + (cb[j] * cb[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "code": [c.tobytes() for c in codes]}
            )

    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .mapInPandas(encode, "id long, code binary")
        .select(F.col("id").alias(id_col), "code")
    )


def pq_search(
    codes: DataFrame,
    codebooks,
    query,
    top_k: int,
    *,
    id_col: str = "vec_id",
    rotation=None,
) -> DataFrame:
    """ADC top-k: ``(id, adc_dist)`` for the ``top_k`` stored codes
    nearest the (un-quantized) query. The (m × k) distance table is
    computed ONCE on the driver; scanning a code costs m byte lookups +
    adds — the decompression-free search that makes PQ usable at scale.
    Plan shape: mapInPandas → orderBy().limit() = TakeOrderedAndProject.
    ADC returns APPROXIMATE distances; re-score survivors against raw
    vectors when exact ranking matters (the IVF/kNN exact paths)."""
    import numpy as np

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape
    q = np.asarray(query, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {m * dsub}")
    if rotation is not None:
        # OPQ: codes live in the rotated space; rotate the query once.
        q = np.asarray(rotation, dtype=np.float64) @ q
    # table[j, c] = ||q_j - centroid_jc||^2 ; ADC(x) = sum_j table[j, code_j(x)]
    table = np.stack(
        [((cb[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(m)]
    )

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue  # see encode(): empty [] columns mistype under Arrow
            c = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, m)
            dist = table[np.arange(m)[None, :], c].sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "adc_dist": dist})

    return (
        codes.select(F.col(id_col).alias("id"), "code")
        .mapInPandas(scan, "id long, adc_dist double")
        .select(F.col("id").alias(id_col), "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(top_k)
    )


def pq_search_residual(
    codes: DataFrame,
    codebooks,
    centroids,
    query,
    top_k: int,
    *,
    id_col: str = "vec_id",
    bucket_col: str = "bucket",
    rotation=None,
) -> DataFrame:
    """ADC top-k over RESIDUAL codes: per bucket ``b`` the distance
    table is built from ``q - centroid[b]`` (the IVFADC lookup of Jégou
    et al.) — the full (n_buckets × m × k) table tensor is computed ONCE
    driver-side (~1 MB at defaults) and each stored code still costs m
    lookups + adds. Same pinned TakeOrderedAndProject plan as
    :func:`pq_search`."""
    import numpy as np

    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape
    cents = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {m * dsub}")
    # tables[b, j, c] = ||(q - centroid_b)_j - cb[j, c]||^2 — with OPQ,
    # the per-bucket query residual rotates into code space first.
    rq = q[None, :] - cents  # (B, dim)
    if rotation is not None:
        rq = rq @ np.asarray(rotation, dtype=np.float64).T
    tables = np.stack(
        [
            ((cb[j][None, :, :] - rq[:, j * dsub : (j + 1) * dsub][:, None, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )  # (B, m, k)

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            c = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, m)
            b = pdf["bucket"].to_numpy(dtype=np.int64)
            dist = tables[b[:, None], np.arange(m)[None, :], c].sum(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "adc_dist": dist})

    return (
        codes.select(F.col(id_col).alias("id"), "code", F.col(bucket_col).alias("bucket"))
        .mapInPandas(scan, "id long, adc_dist double")
        .select(F.col("id").alias(id_col), "adc_dist")
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(top_k)
    )


def ivfpq_search(
    codes: DataFrame,
    centroids,
    codebooks,
    query,
    top_k: int,
    *,
    bucket_col: str = "bucket",
    nprobe: int = 4,
    id_col: str = "vec_id",
    rescore: DataFrame | None = None,
    rescore_factor: int = 4,
    histogram: dict | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF × PQ — the standard large-scale ANN pairing, composed from the
    two operators this module and operators/ivf.py already provide:

    1. **prune**: probe the ``nprobe`` IVF centroids nearest the query
       (driver-side argsort over the centroid matrix) and keep only codes
       in those buckets — when ``codes`` is read from a
       ``bucket=``-partitioned layout (the REINDEX ivf layout), this
       filter is partition-PRUNED at the scan, so the 100 TB corpus is
       never touched outside the probed buckets;
    2. **scan**: ADC over the surviving m-byte codes (``pq_search``) —
       decompression-free table lookups;
    3. **rescore** (optional): join the top ``top_k * rescore_factor``
       ADC survivors — a BOUNDED broadcast — back to the raw vectors in
       ``rescore`` and return the exact-distance top ``top_k``
       (TakeOrderedAndProject, same plan as exact kNN). Without
       ``rescore`` the ADC ranking is returned as-is.

    Pass ``histogram`` ({bucket: row count}, the REINDEX layout records
    one) to make probing OCCUPANCY-AWARE: empty buckets are skipped and
    probing expands past ``nprobe`` until the probed buckets cover the
    ADC candidate budget (``top_k * rescore_factor``) — a fixed nprobe
    on a skewed layout can cover fewer than ``top_k`` codes and silently
    return short results (ADVICE r7).

    ``residual=True`` declares the codes were produced by
    :func:`pq_residual_code_expr` (the IVFADC layout the engine's
    ``REINDEX {"kind": "ivfpq"}`` builds by default): the ADC phase then
    uses per-bucket tables from ``q - centroid[b]``.
    """
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    nq = np.linalg.norm(q)
    qu = q / nq if nq else q
    cents = np.asarray(centroids, dtype=np.float64)
    order = np.argsort(-(cents @ qu))
    if histogram is None:
        probes = [int(b) for b in order[:nprobe]]
    else:
        hist = {int(b): int(n) for b, n in histogram.items()}
        want = max(top_k * (rescore_factor if rescore is not None else 1), 1)
        probes, have = [], 0
        for ci in order:
            occ = hist.get(int(ci), 0)
            if occ == 0:
                continue
            probes.append(int(ci))
            have += occ
            if len(probes) >= nprobe and have >= want:
                break
        probes = probes or [int(order[0])]
    cand = codes.filter(F.col(bucket_col).isin(probes))
    n_adc = top_k * rescore_factor if rescore is not None else top_k
    if residual:
        # Codes were produced by pq_residual_code_expr: ADC needs the
        # per-bucket tables from q - centroid[b] (IVFADC).
        adc = pq_search_residual(
            cand, codebooks, cents, query, n_adc,
            id_col=id_col, bucket_col=bucket_col,
        )
    else:
        adc = pq_search(cand, codebooks, query, n_adc, id_col=id_col)
    if rescore is None:
        return adc
    from vrod_spark.operators.knn import knn_exact

    survivors = adc.select(id_col)
    exact_pool = rescore.join(F.broadcast(survivors), id_col)
    return knn_exact(exact_pool, [float(v) for v in q], top_k, id_col=id_col)


# ---------------------------------------------------------------------------
# Engine verb surface: REINDEX {"kind": "pq"/"ivfpq"} + SEARCHSIMILAR
# routing (vRod src/command/builder.rs:68-76 — SEARCHSIMILAR/REINDEX over
# stored vectors is the reference's core intent; PQ is the [N] memory-axis
# scale path beside the sign-LSH/IVF recall-axis indexes).
# ---------------------------------------------------------------------------


def pq_code_expr(spark, codebooks, vec_col: str = "embedding", *, rotation=None):
    """PQ encoding as an Arrow-batched column expression (broadcast
    codebooks, one matmul per subspace per batch) — shared by the REINDEX
    snapshot rewrite and the O(delta) indexed-INSERT path
    (``Collection.insert``), exactly like ``ivf_assign_expr``: a delta
    appended to a PQ-indexed collection is encoded with the SAME stored
    codebooks, so the index stays valid without touching old data.
    ``rotation`` applies the stored OPQ rotation before quantization."""
    import numpy as np

    cbb = spark.sparkContext.broadcast(
        (
            np.ascontiguousarray(codebooks, dtype=np.float64),
            None if rotation is None else np.ascontiguousarray(rotation, dtype=np.float64),
        )
    )

    @F.pandas_udf("binary")
    def encode(vecs):
        import numpy as np
        import pandas as pd

        cb, rot = cbb.value
        m, k, dsub = cb.shape
        if not len(vecs):
            return pd.Series([], dtype=object)
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        if rot is not None:
            x = x @ rot.T
        codes = np.empty((len(x), m), dtype=np.uint8)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ cb[j].T)
                + (cb[j] * cb[j]).sum(axis=1)[None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return encode(F.col(vec_col))


def pq_residual_code_expr(
    spark,
    codebooks,
    centroids,
    *,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
    rotation=None,
):
    """RESIDUAL PQ encoding (Jégou et al. §IV: IVFADC quantizes
    ``x - centroid[bucket]``, not x): the coarse quantizer explains the
    vector's position, so the codebook spends its 2^nbits levels on the
    much-smaller residual — better ADC accuracy at identical code size.
    Arrow-batched over (vector, bucket); shares the O(delta) indexed-
    INSERT contract with :func:`pq_code_expr`."""
    import numpy as np

    cbb = spark.sparkContext.broadcast(
        (
            np.ascontiguousarray(codebooks, dtype=np.float64),
            np.ascontiguousarray(centroids, dtype=np.float64),
            None if rotation is None else np.ascontiguousarray(rotation, dtype=np.float64),
        )
    )

    @F.pandas_udf("binary")
    def encode(vecs, buckets):
        import numpy as np
        import pandas as pd

        cb, cents, rot = cbb.value
        m, k, dsub = cb.shape
        if not len(vecs):
            return pd.Series([], dtype=object)
        x = np.asarray(vecs.tolist(), dtype=np.float64)
        x = x - cents[np.asarray(buckets, dtype=np.int64)]
        if rot is not None:
            x = x @ rot.T
        codes = np.empty((len(x), m), dtype=np.uint8)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (sub * sub).sum(axis=1)[:, None]
                - 2.0 * (sub @ cb[j].T)
                + (cb[j] * cb[j]).sum(axis=1)[None, :]
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    return encode(F.col(vec_col), F.col(bucket_col))


def _codebooks_meta(codebooks) -> list:
    return [[[float(x) for x in cent] for cent in book] for book in codebooks]


def reindex_pq(
    collection,
    *,
    m: int = 8,
    nbits: int = 8,
    sample_size: int = 65536,
    iters: int = 12,
    seed: int = 7,
    opq: bool = False,
) -> dict:
    """REINDEX {"kind": "pq"}: train codebooks on a bounded sample,
    rewrite the snapshot FLAT with an extra ``pq_code`` binary column
    (m bytes per vector), record the codebooks in collection meta. The
    read surface (``Collection.read``) keeps projecting the declared
    schema, so the code column is invisible outside the search path —
    and because it is a COLUMN of the same parquet files, the ADC scan
    reads (id, pq_code) only: at 100 TB the float vectors are never
    touched until the bounded exact rescore."""
    meta = collection.meta
    if meta.get("dimension") is None:
        return {"collection": collection.name, "indexed": False, "reason": "no vectors"}
    import numpy as np

    base = collection.version
    df = collection.read(base)
    rows = (
        df.select(F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
        .limit(sample_size)
        .collect()
    )
    if not rows:
        # Zero-row snapshot: nothing to train on — consistent with the
        # other index kinds' "no rows" no-op (r11 review).
        return {"collection": collection.name, "indexed": False, "reason": "no rows"}
    xs = np.asarray([r["v"] for r in rows], dtype=np.float64)
    rotation = opq_rotation(xs, m) if opq else None
    train = xs @ rotation.T if opq else xs
    codebooks = pq_fit(train, m=m, nbits=nbits, iters=iters, seed=seed)
    encoded = df.withColumn(
        "pq_code",
        pq_code_expr(collection.db.spark, codebooks, "embedding", rotation=rotation),
    )
    with collection.staging_dir() as staging:
        encoded.write.mode("overwrite").parquet(staging)
        collection.commit_staged_index(
            staging,
            base_version=base,
            index={
                "kind": "pq",
                "m": int(m),
                "nbits": int(nbits),
                "seed": int(seed),
                "codebooks": _codebooks_meta(codebooks),
                **(
                    {"rotation": [[float(x) for x in row] for row in rotation]}
                    if rotation is not None
                    else {}
                ),
            },
            op_detail={"kind": "pq"},
        )
    return {"collection": collection.name, "indexed": True, "kind": "pq", "opq": bool(opq)}


def reindex_ivfpq(
    collection,
    *,
    n_centroids: int = 64,
    m: int = 8,
    nbits: int = 8,
    train_sample: int = 10_000,
    sample_size: int = 65536,
    iters: int = 12,
    seed: int = 42,
    residual: bool = True,
    opq: bool = False,
    project_dim: int | None = None,
) -> dict:
    """REINDEX {"kind": "ivfpq"}: the standard 100 TB ANN pairing as a
    collection layout — IVF centroid bucketing (``bucket=`` partition
    dirs → partition-pruned probes) × PQ codes (m-byte ADC scan inside
    the probed buckets). One rewrite produces both.

    ``project_dim`` is REJECTED here (accepted only so the verb surface
    gives a real error instead of a TypeError): IVFADC's residual
    encoding quantizes ``x - centroid[bucket]``, which requires the
    coarse centroids to live in the FULL vector space — a JL-projected
    coarse quantizer (kind "ivf" supports it) has no full-dim centroid
    to subtract. Use ``{"kind": "ivf", "project_dim": d}`` for projected
    bucketing, or ivfpq without projection.

    ``residual=True`` (default — the IVFADC design of Jégou et al.)
    quantizes ``x - centroid[bucket]``: the codebook models only the
    within-bucket displacement, so ADC accuracy improves at identical
    code size; search then computes one small (m × k) table per probed
    bucket from ``q - centroid[b]``. ``residual=False`` keeps the
    bucket-independent raw-vector codes (one global table per query)."""
    import numpy as np

    from vrod_spark.operators.ivf import _spherical_kmeans, ivf_assign_expr

    if project_dim is not None:
        from vrod_spark.errors import CommandArgError

        raise CommandArgError(
            "ivfpq does not support project_dim: residual (IVFADC) codes "
            "need full-dimension coarse centroids; use kind 'ivf' with "
            "project_dim, or ivfpq without it"
        )
    meta = collection.meta
    if meta.get("dimension") is None:
        return {"collection": collection.name, "indexed": False, "reason": "no vectors"}
    base = collection.version
    df = collection.read(base)
    # ONE bounded DETERMINISTIC sample (the xxhash64 subset rule of
    # pq_train — a pure function of the data, independent of file order
    # and partitioning) trains BOTH quantizers. ``df.sample`` would seed
    # per partition, so the trained index — and therefore recall — would
    # silently vary with the snapshot's file listing order.
    rows = (
        df.select(F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
        .limit(max(sample_size, train_sample))
        .collect()
    )
    if not rows:
        return {"collection": collection.name, "indexed": False, "reason": "no rows"}
    xs = np.asarray([r["v"] for r in rows], dtype=np.float64)
    centroids = _spherical_kmeans(xs[:train_sample], n_centroids, seed=seed)
    if residual:
        # Codebooks fit on RESIDUALS, assigned driver-side with the
        # identical nearest-centroid rule as ivf_assign_expr; with OPQ,
        # the rotation is trained on (and applied to) the residuals.
        norms = np.linalg.norm(xs, axis=1, keepdims=True)
        unit = xs / np.where(norms == 0, 1, norms)
        assign = np.argmax(unit @ centroids.T, axis=1)
        res = xs - centroids[assign]
        rotation = opq_rotation(res, m) if opq else None
        train = res @ rotation.T if opq else res
    else:
        rotation = opq_rotation(xs, m) if opq else None
        train = xs @ rotation.T if opq else xs
    codebooks = pq_fit(train, m=m, nbits=nbits, iters=iters, seed=seed)
    spark = collection.db.spark
    enc = df.withColumn("bucket", ivf_assign_expr(spark, centroids, "embedding"))
    if residual:
        enc = enc.withColumn(
            "pq_code",
            pq_residual_code_expr(spark, codebooks, centroids, rotation=rotation),
        )
    else:
        enc = enc.withColumn(
            "pq_code", pq_code_expr(spark, codebooks, "embedding", rotation=rotation)
        )
    with collection.staging_dir() as staging:
        collection.write_bucketed(enc, staging, len(centroids))
        histogram = collection.bucket_histogram(staging)
        collection.commit_staged_index(
            staging,
            base_version=base,
            index={
                "kind": "ivfpq",
                "n_centroids": int(len(centroids)),
                "m": int(m),
                "nbits": int(nbits),
                "seed": int(seed),
                "residual": bool(residual),
                "centroids": [[float(x) for x in c] for c in centroids],
                "histogram": histogram,
                "codebooks": _codebooks_meta(codebooks),
                **(
                    {"rotation": [[float(x) for x in row] for row in rotation]}
                    if rotation is not None
                    else {}
                ),
            },
            op_detail={"kind": "ivfpq", "buckets": len(histogram)},
        )
    return {
        "collection": collection.name,
        "indexed": True,
        "kind": "ivfpq",
        "residual": bool(residual),
        "buckets": len(histogram),
    }


def pq_collection_search(
    collection,
    vector: list[float],
    k: int,
    *,
    prefilter: str | None = None,
    rescore_factor: int = 4,
    snapshot: tuple | None = None,
) -> DataFrame:
    """SEARCHSIMILAR over a pq/ivfpq-REINDEXed collection, scanning
    ``snapshot`` = ``(version, meta, live index)`` (``Collection.snapshot()``,
    the current one by default):

    1. ivfpq only — occupancy-aware bucket probing (reuses
       ``ivf_candidate_buckets``: skips empty buckets, expands until the
       probed buckets cover the ADC candidate budget); only the probed
       ``bucket=`` dirs are listed and scanned (``Collection.read_buckets``),
       for the ADC phase and the rescore pool alike;
    2. ADC over (id, pq_code) — parquet column pruning means the float
       vectors are NOT read in this phase;
    3. bounded exact rescore: broadcast-join the ``k * rescore_factor``
       ADC survivors back to the raw rows, exact-score with the
       collection metric (TakeOrderedAndProject, same plan/schema as the
       exact kNN and LSH/IVF search paths).

    ``prefilter`` is applied on the candidate scan (before ADC top-k),
    so filtered-out rows never consume candidate budget.

    Metric note: ADC candidate scoring is L2 over the stored codes; the
    exact rescore applies the collection's declared metric, so for a
    cosine-metric collection the candidate set is L2-chosen and the
    ranking cosine-corrected. With unit-normalized embeddings the two
    orders coincide exactly (||a-b||² = 2 - 2·cosθ); for unnormalized
    cosine corpora, normalize at ingest or raise ``rescore_factor``."""
    import numpy as np

    from vrod_spark.operators.knn import knn_exact

    version, meta, idx = snapshot or collection.snapshot()
    cb = np.asarray(idx["codebooks"], dtype=np.float64)
    rotation = (
        np.asarray(idx["rotation"], dtype=np.float64) if idx.get("rotation") else None
    )
    if idx["kind"] == "ivfpq":
        from vrod_spark.operators.ivf import ivf_candidate_buckets

        buckets = ivf_candidate_buckets(
            idx, vector, k, candidate_factor=max(rescore_factor, 4)
        )
        # Every ADC survivor lies in a probed bucket, so the rescore pool
        # below is read from the same pruned scan.
        raw = collection.read_buckets(version, buckets, columns="pq_code binary")
    else:
        raw = collection.db.spark.read.schema(
            meta["schema"] + ", pq_code binary"
        ).parquet(collection.version_dir(version))
    cand = raw
    if prefilter:
        cand = cand.filter(F.expr(prefilter))
    n_adc = max(k * rescore_factor, k)
    if idx.get("residual"):
        codes = cand.select(
            F.col("id"), F.col("pq_code").alias("code"), F.col("bucket")
        )
        adc = pq_search_residual(
            codes,
            cb,
            np.asarray(idx["centroids"], dtype=np.float64),
            vector,
            n_adc,
            id_col="id",
            bucket_col="bucket",
            rotation=rotation,
        )
    else:
        codes = cand.select(F.col("id"), F.col("pq_code").alias("code"))
        adc = pq_search(codes, cb, vector, n_adc, id_col="id", rotation=rotation)
    pool = raw.join(F.broadcast(adc.select("id")), "id")
    return knn_exact(
        pool,
        [float(v) for v in vector],
        k,
        vec_col="embedding",
        id_col="id",
        metric=meta.get("metric", "l2"),
        payload_cols=("payload",),
    )

"""BM25 full-text retrieval over a document corpus.

Okapi BM25 in its Lucene form:

    score(d, q) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))

— the standard first-stage ranker for corpus search / RAG retrieval
pipelines, and together with q50's n-gram decontamination the lexical
face of the LLM-data query surface (BASELINE.json north star; the
reference's SEARCH verb, `src/command/builder.rs:63-67`, is the
payload-filter ancestor of this).

Scale shape:
- Query terms are a SMALL fixed set, so per-document term frequencies
  are computed as array expressions over the token array (``size ∘
  filter``, whole-stage codegen) — no explode, no postings shuffle at
  all. The only aggregation is ONE single-row corpus-stats agg
  (N, avgdl, per-term document frequencies), broadcast back over the
  scoring scan.
- The final top-k is orderBy().limit(k) — planned as
  TakeOrderedAndProject, never a global sort.
- Net plan: two scans of the (snapshot-materialized) tokenized corpus,
  one broadcast, zero wide shuffles — vs the classic explode → postings
  shuffle → df shuffle → two joins shape, which pays three exchanges
  for the same answer (r11 rewrite; measured 1.8 s → well under 1 s
  cold at sf0.1, and the q53 gate pins value equality to the DuckDB
  formula twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrod_spark.functions.text import tokens


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    score_decimals: int = 4,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Rank documents against ``query_terms`` by BM25.

    Returns (id, rank, n_matched, score): top ``top_k`` docs by
    (score DESC, id) — the id tiebreak plus ``score_decimals`` rounding
    keeps the cut deterministic across engines (per-term float
    contributions sum in engine-dependent order; at 4 decimals the
    ulp-level difference can't reorder the boundary).

    ``tokens_df``: optional pre-tokenized corpus ``(id_col, toks
    array<string>)`` — lowercased whitespace tokens with EVERY document
    present (empty docs as empty arrays: they count toward n_docs/avgdl).
    A snapshot-scoped tokenized table is how a production deployment
    amortizes the scan+split across retrieval queries.
    """
    # Corpus tokens are lowercased below — lowercase the query terms too
    # so a standalone caller passing "Hash Join" matches (ADVICE r8; the
    # engine path happens to lowercase first, direct callers may not).
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        # Same shape the matched-nothing case produces: zero rows, the
        # id column keeping its source type.
        src = tokens_df if tokens_df is not None else docs
        return src.select(
            F.col(id_col).alias("id"),
            F.lit(1).alias("rank"),
            F.lit(0).cast("bigint").alias("n_matched"),
            F.lit(0.0).alias("score"),
        ).limit(0)
    if tokens_df is not None:
        toked = tokens_df.select(F.col(id_col).alias("id"), "toks")
    else:
        toked = docs.select(
            F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
        )
    # Per-document term frequencies as ARRAY EXPRESSIONS — the query
    # term set is small and fixed, so tf(t, d) = size(filter(toks, = t))
    # is a per-row expression: no explode, no postings shuffle. ``filter``
    # (ArrayFilter) is CodegenFallback in Spark 4.1, so each tf column is
    # evaluated interpreted inside the generated stage.
    def _is_term(term: str):
        # Closure factory, NOT a default arg: PySpark infers higher-order
        # lambda arity from the signature, and a second parameter would
        # select the (element, index) form.
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("toks", _is_term(t))).alias(f"_tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = toked.select("id", F.size("toks").alias("dl"), *tf_cols)
    # ONE single-row stats agg: corpus size, average doc length, and the
    # per-term document frequencies all ride the same pass.
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("double")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contribs = []
    matched = []
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        contribs.append(
            F.when(tf > 0, idf * (tf * F.lit(k1 + 1.0)) / (tf + norm)).otherwise(
                F.lit(0.0)
            )
        )
        matched.append((F.col(f"_tf_{i}") > 0).cast("bigint"))
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    n_matched = matched[0]
    for m in matched[1:]:
        n_matched = n_matched + m
    scored = (
        per_doc.join(F.broadcast(stats))
        .select(
            "id",
            F.round(score, score_decimals).alias("score"),
            n_matched.alias("n_matched"),
        )
        .filter(F.col("n_matched") > 0)
        .orderBy(F.col("score").desc(), "id")
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), "id")
    return scored.select(
        "id", F.row_number().over(w).alias("rank"), "n_matched", "score"
    )


def rrf_fuse(
    ranked: dict[str, DataFrame],
    *,
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    N ranked candidate lists: ``score(d) = Σ_lists 1/(k + rank_d)``, the
    standard hybrid-search combiner — rank-based, so a BM25 list and a
    cosine list fuse without score calibration, and k=60 (the paper's
    constant) keeps any single list from dominating.

    ``ranked``: {list_name: DataFrame with (id_col, rank_col)} — e.g.
    {"bm25": bm25_rank(...), "vector": knn top-k}. Returns
    (id, fused_rank, rrf_score, n_lists) ordered by fused_rank, where
    ``n_lists`` counts the lists that surfaced the id. The fused order
    breaks score ties by id; the score is a sum of exact rationals
    1/(k+r) accumulated in sorted-list-name order, so it is
    deterministic across engines and partitionings.

    Scale shape: each input is already a top-k list (tiny by
    construction); the fusion is a full outer join series over k-sized
    frames — broadcastable everywhere, no corpus-sized work. At 100 TB
    the expensive part is PRODUCING the lists (BM25's postings, the ANN
    index probe), both of which have their own scale paths.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if top_k is not None and int(top_k) <= 0:
        raise ValueError(f"rrf_fuse top_k must be positive, got {top_k}")
    # Internal score columns are POSITIONAL (_s_0, _s_1, ... over the
    # sorted list names), never interpolated from caller-supplied names —
    # a name containing '.', space, or backtick would otherwise break
    # F.col resolution with an opaque AnalysisException (ADVICE r10).
    names = sorted(ranked)
    fused = None
    for i, name in enumerate(names):
        df = ranked[name].select(
            F.col(id_col).alias("id"),
            (1.0 / (F.lit(float(k)) + F.col(rank_col))).alias(f"_s_{i}"),
        )
        fused = df if fused is None else fused.join(df, "id", "full_outer")
    score_cols = [
        F.coalesce(F.col(f"_s_{i}"), F.lit(0.0)) for i in range(len(names))
    ]
    present = [
        F.col(f"_s_{i}").isNotNull().cast("int") for i in range(len(names))
    ]
    score = score_cols[0]
    for c in score_cols[1:]:
        score = score + c
    n_lists = present[0]
    for c in present[1:]:
        n_lists = n_lists + c
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf_score").desc(), "id")
    out = (
        fused.select("id", score.alias("rrf_score"), n_lists.alias("n_lists"))
        .withColumn("fused_rank", F.row_number().over(w))
        .select("id", "fused_rank", "rrf_score", "n_lists")
    )
    if top_k is None:
        return out
    return out.filter(F.col("fused_rank") <= int(top_k))


def mmr_rerank(
    candidates: DataFrame,
    query_vector,
    *,
    k: int = 10,
    lambda_: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "id",
    metric: str = "cosine",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily select ``k`` of the candidate rows maximizing

        λ · sim(q, d)  −  (1 − λ) · max_{s ∈ selected} sim(d, s)

    — the standard diversification pass over a first-stage retrieval
    list: near-duplicate hits stop crowding out novel ones. λ=1 is pure
    relevance (first-stage order), λ=0 pure diversity.

    ``metric`` matches the collection's declared distance ("cosine" or
    "l2", the SEARCHSIMILAR metrics). For cosine, sim is the cosine of
    unit-normalized vectors. For l2, sim is the NEGATED euclidean
    distance (relevance = -‖q−d‖, penalty = -min distance to selected),
    so λ=1 reproduces the first-stage l2 order exactly and λ=0 picks
    the point farthest from everything already selected — the standard
    distance-space MMR formulation (ADVICE r10: the previous
    cosine-only rerank silently reordered l2 collections whose vector
    norms differ).

    ``candidates`` must be a FIRST-STAGE LIST (top-k/pool sized, not a
    corpus) — the greedy argmax is inherently sequential, so the rows
    are collected and scored on the driver (O(pool²) numpy sims; pools
    are tens-to-hundreds of rows by contract, the same bounded-driver
    contract as k-means seeds and eval matrices). At 100 TB the
    expensive part is PRODUCING the pool (index probe / BM25 / hybrid
    fusion), which stays distributed.

    Returns (id, mmr_rank, relevance, mmr_score) for the selected rows,
    ordered by mmr_rank; ties break by id. Under cosine, NULL/zero-norm
    vectors score relevance 0 and similarity 0 (they neither attract
    nor repel); under l2 a NULL vector is treated as the origin point.
    """
    import numpy as np

    if not 0.0 <= float(lambda_) <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    if metric not in ("cosine", "l2"):
        raise ValueError(f"mmr_rerank metric must be 'cosine' or 'l2', got {metric!r}")
    # Result schema keeps the CALLER's id type — hardcoding 'id long'
    # broke string-id collections (r11 review).
    id_type = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"id {id_type}, mmr_rank int, relevance double, mmr_score double"
    )
    rows = candidates.select(F.col(id_col).alias("id"), F.col(vec_col)).collect()
    ids = [r["id"] for r in rows]
    if not ids:
        return candidates.sparkSession.createDataFrame([], out_schema)
    dims = {len(r[vec_col]) for r in rows if r[vec_col] is not None}
    dim = max(dims, default=None)
    q = np.asarray([float(x) for x in query_vector], dtype=np.float64)
    # Validate dimensions up front: a short query vector would raise an
    # opaque numpy shape error in the matmul below, a long one would be
    # silently truncated without renormalizing (ADVICE r10). The engine
    # path usually catches this via the declared-dimension check;
    # direct callers and undeclared collections land here. A pool with
    # NO vectors at all (text-only collection) keeps its pre-r10
    # behavior — every candidate scores relevance 0 / sim 0 under
    # cosine, distance-to-origin under l2 — rather than failing a
    # meaningless dimension check.
    if dim is not None and len(q) != dim:
        raise ValueError(
            f"query vector dimension {len(q)} != candidate embedding "
            f"dimension {dim}"
        )
    if dim is None:
        dim = len(q)
    mat = np.zeros((len(rows), dim), dtype=np.float64)
    for i, r in enumerate(rows):
        if r[vec_col] is not None:
            mat[i, : len(r[vec_col])] = np.asarray(r[vec_col], dtype=np.float64)
    if metric == "l2":
        # Distance-space MMR: sim(a, b) = -‖a − b‖ so greater is more
        # similar, matching the cosine branch's orientation. Gram-matrix
        # identity (‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b) keeps this O(n²)
        # driver memory — the broadcasted (n, n, d) difference tensor
        # would be ~100 GB at pool=4000, d=768 (r11 self-review). The
        # query rides the SAME gram matrix as the candidates (one gemm,
        # q as the last row): when the query coincides with a pool
        # vector — the exact-duplicate dedup scenario — d(x, q) and
        # d(x, dup) must be byte-identical, or the ±ulp gemm/gemv
        # disagreement is amplified by sqrt at 0 into noise that decides
        # ranks.
        ext = np.vstack([mat, q[None, :]])
        sq = (ext * ext).sum(axis=1)
        g = ext @ ext.T
        d = np.sqrt(np.maximum(sq[:, None] + sq[None, :] - 2.0 * g, 0.0))
        sims = -d[:-1, :-1]
        rel = -d[:-1, -1]
    else:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        unit = mat / np.where(norms == 0, 1, norms)
        qn = np.linalg.norm(q)
        qu = q / (qn if qn else 1.0)
        rel = unit @ qu
        sims = unit @ unit.T
    lam = float(lambda_)
    selected: list[int] = []
    remaining = list(range(len(ids)))
    out_rows = []
    for rank in range(1, min(int(k), len(ids)) + 1):
        best_i, best_score = None, None
        for i in remaining:
            penalty = max((sims[i, j] for j in selected), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * penalty
            # ties break by id — deterministic under any input order
            if (
                best_score is None
                or score > best_score
                or (score == best_score and ids[i] < ids[best_i])
            ):
                best_i, best_score = i, score
        selected.append(best_i)
        remaining.remove(best_i)
        out_rows.append(
            (ids[best_i], rank, float(rel[best_i]), float(best_score))
        )
    from vrod_spark.localdf import local_df

    return local_df(
        candidates.sparkSession,
        out_rows,
        out_schema,
    )

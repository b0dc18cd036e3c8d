"""Deduplication operators for LLM-training-corpus pipelines.

Five dedup strategies, each chosen for a different scale/accuracy point:

- **exact**: sha2 digest of normalized text → keep-first. One shuffle on
  the digest; the digest is 32 bytes regardless of document size, so the
  shuffle is O(rows), never O(bytes).
- **exact Jaccard pairs** (inverted-index join): explode shingles → join
  docs sharing a shingle → count shared → Jaccard from |A∩B|/(|A|+|B|-|A∩B|).
  EXACT (any pair with J > 0 shares a shingle) and the standard scalable
  formulation — with document-frequency pruning of hot shingles, the join
  stays near-linear at corpus scale.
- **MinHash-LSH**: k seeded xxhash64 min-hashes per doc (pure built-in
  expressions — array_min over transform), banded; docs sharing a band
  bucket are candidates; candidates verified with exact Jaccard.
  Probabilistic recall, tunable via (k, bands); the only strategy whose
  candidate generation cost is independent of pairwise similarity
  structure.
- **SimHash**: 64-bit majority-vote signature — JVM-side token hashing,
  batch-vectorized numpy majority behind mapInPandas; near-dups =
  signatures within Hamming distance d, found by pigeonhole band
  exact-match.
- **embedding cosine**: semantic near-dup over the vector column —
  blocked self-join + codegen'd cosine, or LSH buckets at scale.

All pair outputs are canonical: (id_a < id_b), ordered, hash-checkable.

Pairs are only half of dedup: ``connected_components`` (alternating
large-star/small-star) turns any of the pair outputs into transitive
keep-one-per-cluster components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vrod_spark.functions.text import shingles, shingles_from_tokens, tokens
from vrod_spark.functions.vector import cosine_similarity
from vrod_spark.operators.util import widen


def _plan_row_count(df: DataFrame) -> int | None:
    """Exact row count from the optimized plan's statistics when Catalyst
    already knows it WITHOUT running a job (e.g. a bare parquet scan with
    CBO/ANALYZE stats, or a local relation). Returns None when the plan
    can't answer cheaply — callers then decide whether a count() job is
    worth it. This keeps adaptive-granularity heuristics from silently
    re-executing an expensive upstream lineage just to pick a task count."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Exception:
        return None
    return None

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest-id document per normalized-text sha2 digest.

    A NULL text is UNKNOWN content, not identical content: each
    NULL-text row is its own group and always survives (r11 review —
    a bare partitionBy(sha2(...)) groups every NULL digest together and
    silently deletes all but one metadata-only row; url_dedup isolates
    NULL keys the same way)."""
    fp = F.sha2(F.lower(F.trim(F.col(text_col))), 256)
    key = F.coalesce(
        fp, F.concat(F.lit("__null__"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Exact shingle-Jaccard pairs via inverted-index join
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_df: int | None = None,
    prune_unique_shingles: bool = False,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ `min_jaccard`, exactly.

    Tokenization is CASE-SENSITIVE (as is MinHash's): set similarity is
    computed over the raw token stream, unlike exact_dedup/simhash which
    normalize case — callers wanting case-folded Jaccard pass a
    lowercased column. (Documented rather than changed: the q26/q26b
    gates pin the case-sensitive semantics.)

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents before the join — the standard stop-shingle pruning that
    keeps the inverted index near-linear on real corpora (a shingle shared
    by half the corpus generates O(N²) candidates and carries ~zero
    similarity signal). With pruning on, results remain exact for pairs
    whose similarity rests on informative shingles, which is the curated
    behavior production dedup uses.
    """
    # NULL text is UNKNOWN content and can never near-duplicate anything
    # (r11 review: shingles_from_tokens maps a NULL token array to the
    # single shingle [""], which paired every metadata-only row at
    # Jaccard 1.0 — the exact_dedup NULL-fusion class via this path).
    # Empty/whitespace-only documents intentionally still pair: they ARE
    # identical known content, matching exact_dedup's trim semantics.
    sh = (
        widen(df)  # shingling is per-row compute; don't let a 1-row-group scan serialize it
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
        .select("id", F.array_distinct(shingles_from_tokens(F.col("_toks"), n)).alias("sh"))
        .withColumn("set_size", F.size("sh"))
    )
    inv = sh.select("id", "set_size", F.explode("sh").alias("shingle"))
    # Inverted-index pairing as a COLOCATED shuffle-hash self-join: the
    # postings shuffle (hashpartitioning on shingle) is planned once and
    # ReuseExchange streams both join sides — each carrying the windowed
    # df-cap filter below — from the same shuffle files, so the
    # tokenize→shingle pipeline runs exactly once and each posting
    # crosses the wire once. The pairing itself stays inside join
    # codegen. (An in-row collect_list + higher-order pair
    # expansion was tried and rejected: HigherOrderFunction is
    # CodegenFallback — interpreted — and its CPU-per-byte profile
    # defeats AQE's byte-based reduce-partition sizing.) Per-shingle pair
    # work is O(df²), so `max_shingle_df` is the scale contract: at
    # corpus scale a hot shingle (df ~ corpus size) MUST be capped — it
    # carries no similarity signal and would otherwise dominate any
    # formulation. df=1 shingles can't form a pair and are always pruned
    # (`prune_unique_shingles` kept for API compat; it is implied).
    df_cond = F.col("_df") >= 2
    if max_shingle_df is not None:
        # Hot-shingle pruning caps the quadratic head, trading exactness
        # for scalability; set_size was computed on the full shingle set,
        # so Jaccard denominators stay exact.
        df_cond = df_cond & (F.col("_df") <= max_shingle_df)
    # Document frequency as a WINDOW over the postings themselves (r17):
    # count(*) over (partition by shingle) rides the SAME
    # hashpartitioning(shingle) exchange the pair join needs, so the
    # df-cap filter costs one in-partition pass instead of the previous
    # separate groupBy(shingle) aggregate + left-semi join back (two more
    # consumers of the postings shuffle plus a 27K-row keep-side shuffle
    # at sf0.1; static plan 18 → 10 Exchange nodes, rows bit-identical —
    # guide §2.4 "two operations keyed the same way share one exchange").
    # The window counts a shingle's WHOLE posting list, BEFORE the df-cap
    # filter, and WindowExec buffers that list per group: a stop-shingle
    # with document frequency ≈ N makes one task buffer (or spill) ≈ N
    # rows. max_shingle_df bounds what reaches the pair join, not this
    # window, whose envelope is the largest posting list.
    w = Window.partitionBy("shingle")
    pruned = (
        inv.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(df_cond)
        .drop("_df")
    )
    pairs = (
        pruned.alias("x")
        .hint("shuffle_hash")
        .join(pruned.alias("y").hint("shuffle_hash"), ["shingle"])
        .filter(F.col("x.id") < F.col("y.id"))
        .groupBy(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.set_size").alias("size_a"),
            F.col("y.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        # Min-containment: the fraction of the SMALLER shingle set the
        # overlap covers — the asymmetric-duplication signal (a short doc
        # embedded in a long one scores near 1.0 here while its Jaccard
        # stays low, because the union is dominated by the long doc).
        .withColumn(
            "containment",
            F.col("inter") / F.least("size_a", "size_b").cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "inter", "jaccard", "containment")
    )
    return pairs


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    n: int = 3,
) -> DataFrame:
    """k-permutation MinHash signature as ARRAY<BIGINT>:
    sig[i] = min over shingles of xxhash64(shingle, i). No UDF.

    Physical shape: explode the shingles, then ONE hash aggregate with k
    ``min(xxhash64(shingle, i))`` columns. The k hashes are scalar
    expressions inside whole-stage codegen; the earlier nested-transform
    form kept the whole k×|shingles| hash loop inside higher-order
    lambdas, which Catalyst evaluates INTERPRETED (HigherOrderFunction is
    CodegenFallback) — measured 1.1 s vs ~0.2 s for the same 8.6M hashes
    at sf0.1. Shingle text never crosses the wire: partial aggregation
    folds each partition to one row per doc before the shuffle, so the
    exchange carries O(docs) × k longs — the property that matters at
    100 TB. Signature values are bit-identical to the transform form
    (same xxhash64(shingle_string, seed_int) evaluations; duplicate
    shingles cannot change a min, so no array_distinct is needed)."""
    # NULL text can never near-duplicate anything (unknown content): drop
    # it here so NULL rows get NO signature — shingles_from_tokens would
    # otherwise map every NULL doc to the single shingle [""] and fuse
    # them all at Jaccard 1.0 (r11 review, the exact_dedup NULL class).
    exploded = (
        widen(df)  # shingling+hashing is per-row compute; parallelize single-split scans
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("_sh_toks"))
        .select("id", F.explode(shingles_from_tokens(F.col("_sh_toks"), n)).alias("_s"))
    )
    mins = [F.min(F.xxhash64("_s", F.lit(i))).alias(f"_m{i}") for i in range(k)]
    return (
        exploded.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[f"_m{i}" for i in range(k)]).alias("sig"))
    )


def minhash_signature_expr(text_col, *, k: int = 32, n: int = 3):
    """Per-ROW MinHash signature as a single Column expression — no
    aggregation, no shuffle. Bit-identical values to
    :func:`minhash_signature` (same ``xxhash64(shingle, i)``
    evaluations), but computed inside one row via higher-order
    transforms, which Catalyst evaluates INTERPRETED (~5× the codegen
    explode+agg path per hash).

    Use this where a shuffle-free, stateless projection is REQUIRED —
    the streaming near-dup path (streaming/stateful.streaming_near_dup):
    a streaming aggregation before a stateful operator would make the
    query multi-stateful, so the signature must be a per-row expression
    there. Batch pair generation should keep using
    :func:`minhash_signature`. ``let_once`` binds the shingle set once
    so the k min-scans share one tokenization."""
    from vrod_spark.functions.text import let_once

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    # Nested let-bindings: the shingle chain references its token input
    # three times (acc + two slices), so the token array is bound first
    # — an unbound tokens(col) tree re-evaluates per reference (r12, the
    # doc_fingerprint finding); the shingle set is then bound so the k
    # min-scans share it.
    return let_once(
        tokens(col),
        lambda toks: let_once(
            F.array_distinct(shingles_from_tokens(toks, n)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.array_min(
                    F.transform(s, lambda g: F.xxhash64(g, i))
                ),
            ),
        ),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    delta_ids: DataFrame | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Contiguous-overlap candidate pairs from WINNOWING fingerprints —
    the MOSS scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03) as a corpus
    pair generator: any shared substring of length ≥ ``window + k - 1``
    characters between two documents contributes at least one SHARED
    fingerprint (the local-sampling guarantee), so copied passages and
    boilerplate are caught even when bag-of-shingles Jaccard is low —
    the long-tail failure mode the MinHash candidates share with exact
    Jaccard. Complements, not replaces, the set-similarity family.

    Returns ``(id_a, id_b, shared, min_fp, overlap)`` with
    ``id_a < id_b``, ``shared`` = matching distinct fingerprints,
    ``min_fp`` = min(|fp_a|, |fp_b|) (the overlap denominator, exposed
    so integer-pinned gates never hash the float ratio), and
    ``overlap`` = shared / min_fp, filtered to ``shared >= min_shared``.

    Scale shape mirrors :func:`jaccard_pairs`: inverted index on the
    fingerprint, colocated shuffle-hash self-join with ReuseExchange
    (the winnow pipeline runs once), and ``max_fp_df`` caps
    corpus-frequency fingerprints (a boilerplate gram shared by half the
    corpus is O(df²) pair work and zero plagiarism signal). df=1
    fingerprints cannot pair and are always pruned.

    ``fps`` (optional): a precomputed fingerprint table carrying
    ``(id_col, fp)`` — e.g. a session-materialized
    `winnow_fingerprints_relational` snapshot shared with a per-document
    fingerprint report, so the corpus pays the gram pipeline once (the
    compute-once-per-snapshot shape); ``k``/``window`` are then the
    parameters it was BUILT with and are not re-applied."""
    if fps is None:
        from vrod_spark.functions.text import winnow_fingerprints_relational

        fps = winnow_fingerprints_relational(
            df, text_col=text_col, id_col=id_col, k=k, window=window
        )
    fps = fps.select(F.col(id_col).alias("id"), "fp")
    # Per-id fingerprint counts and per-fp document frequency as WINDOWS
    # over the fingerprint stream itself (r17, the jaccard_pairs fusion):
    # count(*) over (partition by id) replaces the separate groupBy(id)
    # aggregate + join back, and count(*) over (partition by fp) rides
    # the hashpartitioning(fp) exchange the pair join needs anyway,
    # replacing the groupBy(fp) aggregate + left-semi join (guide §2.4).
    # Rows bit-identical. The per-fp window buffers the fp's whole posting
    # list before the df cap filters it, so a hot fp costs one task its
    # full df in rows; max_fp_df bounds only the pair join.
    df_cond = F.col("_df") >= 2
    if max_fp_df is not None:
        df_cond = df_cond & (F.col("_df") <= max_fp_df)
    inv = fps.withColumn("nfp", F.count(F.lit(1)).over(Window.partitionBy("id")))
    pruned = (
        inv.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(df_cond)
        .drop("_df")
    )
    if delta_ids is None:
        cand = (
            pruned.alias("x")
            .hint("shuffle_hash")
            .join(pruned.alias("y").hint("shuffle_hash"), ["fp"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.col("x.nfp").alias("nfp_a"),
                F.col("y.nfp").alias("nfp_b"),
            )
        )
    else:
        # INCREMENTAL (``delta_ids``): probe only the delta rows' posting
        # lists against the full index — O(delta x df), established x
        # established pairs never generate. Orientation care: a
        # delta-delta pair appears from BOTH probe sides, so the second
        # orientation is kept only when the other side is established
        # ((x < y) | y-not-delta) — otherwise ``shared`` would double
        # count exactly the delta-delta pairs. Ids then canonicalize
        # with the fingerprint counts swapped alongside.
        dset = (
            delta_ids.select(F.col(delta_ids.columns[0]).alias("id"))
            .distinct()
            .withColumn("_d", F.lit(True))
        )
        flagged = pruned.join(dset, "id", "left").withColumn(
            "_d", F.coalesce("_d", F.lit(False))
        )
        probe = flagged.filter(F.col("_d"))
        cand = (
            probe.alias("x")
            .hint("shuffle_hash")
            .join(flagged.alias("y").hint("shuffle_hash"), ["fp"])
            .filter(
                (F.col("x.id") != F.col("y.id"))
                & ((F.col("x.id") < F.col("y.id")) | ~F.col("y._d"))
            )
            .select(
                F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
                F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
                F.when(F.col("x.id") < F.col("y.id"), F.col("x.nfp"))
                .otherwise(F.col("y.nfp"))
                .alias("nfp_a"),
                F.when(F.col("x.id") < F.col("y.id"), F.col("y.nfp"))
                .otherwise(F.col("x.nfp"))
                .alias("nfp_b"),
            )
        )
    return (
        cand.groupBy("id_a", "id_b", "nfp_a", "nfp_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .withColumn("min_fp", F.least("nfp_a", "nfp_b"))
        .withColumn("overlap", F.col("shared") / F.col("min_fp").cast("double"))
        .select("id_a", "id_b", "shared", "min_fp", "overlap")
    )


def minhash_band_expr(sig_col, *, k: int, bands: int):
    """LSH banding of a MinHash signature column as an explodable
    ``array<struct<band int, bucket bigint>>``: band ``i``'s bucket is
    ``xxhash64`` over the comma-joined ``i``-th signature slice. ONE
    definition shared by the streaming near-dup operator
    (streaming/stateful.streaming_near_dup) and batch comparators, so
    "identical banding" holds by construction, not by convention."""
    if k % bands != 0:
        # A real error, not an assert — python -O strips asserts and the
        # slices would silently ignore the trailing k % bands hashes
        # (same rationale as hamming64_pairs' band check).
        raise ValueError(f"k={k} must divide into equal bands (bands={bands})")
    rows_per_band = k // bands
    col = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.cast("int").alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(col, bi * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("bucket"),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    min_jaccard: float = 0.5,
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: banded MinHash-LSH candidates, verified with exact
    Jaccard (so precision is exact; recall is the LSH probability
    1-(1-s^r)^b). Candidate generation is groupBy(band, band_hash) —
    one shuffle of (id, 16-byte band hash), never of document text.

    ``delta_ids`` (single-column DataFrame): restrict the output to pairs
    touching at least one of these ids — the INCREMENTAL shape. The
    banded join probes delta postings against the full corpus, so pair
    expansion is O(Σ_b d_b·n_b) instead of O(Σ_b n_b²): a 1 GB append
    dedups against a 100 TB corpus without enumerating the corpus's own
    pairs. (Signature hashing stays one linear pass per join side — the
    delta filter legally pushes below the band exchange, which costs the
    exchange reuse but keeps the quadratic term delta-bound.)"""
    # ONE tokenize→shingle→explode pass feeds BOTH the signature and the
    # exact-verify shingle sets (r16 optimization, guide §2.4 "share one
    # exchange"): the k min-hashes and the distinct shingle set are
    # computed in a single groupBy(id) aggregation, so its one exchange
    # is reused by the banding path and both verify probes. The previous
    # shape ran the corpus scan+tokenize+shingle pipeline twice (once
    # for minhash_signature, once for the verify arrays) — at 100 TB
    # that is a second full corpus pass for data the first already held.
    # collect_set equals the old per-row array_distinct exactly where it
    # matters: array_intersect/size are set operations, so inter, sizes,
    # and jaccard are bit-identical (measured at sf0.1: same 256 pairs,
    # 2.01 s → 1.55 s noop; collect_set makes the agg an
    # ObjectHashAggregate, still partial-aggregated map-side, and the
    # shuffle carries each distinct shingle once — the same bytes the
    # old verify arrays carried).
    exploded = (
        widen(df)  # shingling+hashing is per-row compute; parallelize single-split scans
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("_sh_toks"))
        .select("id", F.explode(shingles_from_tokens(F.col("_sh_toks"), n)).alias("_s"))
    )
    mins = [F.min(F.xxhash64("_s", F.lit(i))).alias(f"_m{i}") for i in range(k)]
    per_doc = (
        exploded.groupBy("id")
        .agg(*mins, F.collect_set("_s").alias("sh"))
        .select(
            "id",
            F.array(*[f"_m{i}" for i in range(k)]).alias("sig"),
            "sh",
        )
    )
    # The SHARED banding expression (minhash_band_expr) — one definition
    # with the streaming near-dup path so "identical banding" holds by
    # construction (r11 review: an inline expression-for-expression copy
    # lived here, inviting silent batch/streaming drift). Its nested
    # transform over band indices, not `bands` unrolled struct copies,
    # keeps the generated method under HotSpot's 8000-byte JIT ceiling.
    banded = per_doc.select(
        "id",
        F.explode(minhash_band_expr("sig", k=k, bands=bands)).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # Banded self-join with a shuffle-hash hint, NOT the default broadcast:
    # with broadcast, one side plans as a BroadcastExchange and the other
    # as a shuffle Exchange — different exchange kinds, so ReuseExchange
    # cannot dedupe them and the ENTIRE signature pipeline (every shingle
    # hashed k times) executes twice, once per alias. With both sides as
    # identical hashpartitioning(band, bucket) exchanges, ReuseExchange
    # computes signatures ONCE and streams the second side from the same
    # shuffle files; the pairing itself stays inside join codegen (an
    # in-row collect_list pair expansion was tried and rejected: the
    # higher-order transform is CodegenFallback — interpreted — and its
    # CPU-per-byte profile defeats AQE's byte-based partition sizing).
    # Memory contract at scale: SHJ builds one partition of (id, band,
    # bucket) rows — ~24 bytes each — in memory; AQE sizes post-shuffle
    # partitions to ~64-200 MB so the build side fits. Deployments that
    # prefer spill-safe sorting can swap the hint for "merge": sort-merge
    # shuffles both sides identically too, so the exchange reuse is
    # preserved — broadcast is the one strategy that breaks it.
    if delta_ids is not None:
        dset = delta_ids.select(
            F.col(delta_ids.columns[0]).alias("id")
        ).distinct()
        cand = (
            banded.join(dset, "id", "left_semi")
            .alias("x")
            .hint("shuffle_hash")
            .join(banded.alias("y").hint("shuffle_hash"), ["band", "bucket"])
            .filter(F.col("x.id") != F.col("y.id"))
            .select(
                F.least("x.id", "y.id").alias("id_a"),
                F.greatest("x.id", "y.id").alias("id_b"),
            )
            .distinct()
        )
    else:
        cand = (
            banded.alias("x")
            .hint("shuffle_hash")
            .join(banded.alias("y").hint("shuffle_hash"), ["band", "bucket"])
            .filter(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
    sh = per_doc.select("id", "sh")
    # shuffle_hash on the sh probes: broadcasting the per-doc shingle
    # sets is exactly backwards at corpus scale (sh is O(corpus); cand is
    # the small side), and with both verify joins consuming the SAME
    # per_doc aggregation the whole signature+shingle subtree (exchange
    # included) is computed once and reused by banding and both probes.
    verified = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")).hint(
                "shuffle_hash"
            ),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")).hint(
                "shuffle_hash"
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash (codegen'd signature + pigeonhole banding)
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: token hashing stays JVM-side
    (``xxhash64`` inside codegen — stable and fast), and the per-bit
    majority vote runs in a batch-vectorized numpy kernel behind
    ``mapInPandas``.

    Why mapInPandas and not a ``@pandas_udf`` expression: an expression
    UDF becomes an ArrowEvalPython node that Catalyst legally pushes
    below the widen() round-robin repartition (projection pushdown
    through the exchange shrinks shuffle bytes), serializing the whole
    signature computation onto the single scan task of a one-row-group
    parquet file. ``mapInPandas`` is an operator, pinned where it appears
    — it always runs on the widened partitioning. Why not a pure-Catalyst
    64-counter aggregate: the generated update method for 33+ sum buffers
    exceeds HotSpot's 8000-bytecode JIT ceiling and interprets forever
    (measured 50 core-s for 270k tokens — ~100× slower than this form).

    The numpy kernel is batch-vectorized: one flattened bit-unpack plus a
    segmented ``add.reduceat`` per Arrow batch — no per-document Python
    loop. Signature semantics: bit i set iff 2·count_i ≥ n_tokens; empty
    documents → signature 0. NULL-text documents get NO signature row —
    unknown content can never near-duplicate anything (r11 review: a
    zero signature paired every metadata-only row at Hamming 0)."""
    idt = df.schema[id_col].dataType.simpleString()
    if idt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"simhash_signatures needs an integral id column; got {idt} — "
            "map ids through a hash first (the engine's DEDUP does)"
        )
    token_hashes = F.transform(tokens(F.lower(F.col(text_col))), lambda t: F.xxhash64(t))
    prepped = (
        widen(df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), token_hashes.alias("_h"))
    )

    def majority(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            n_rows = len(pdf)
            out = np.zeros(n_rows, dtype=np.int64)
            if n_rows:
                lens = np.fromiter(
                    (0 if h is None else len(h) for h in pdf["_h"]),
                    dtype=np.int64,
                    count=n_rows,
                )
                (nz,) = np.nonzero(lens)
                if len(nz):
                    flat = np.concatenate(
                        [np.asarray(pdf["_h"].iloc[i], dtype=np.int64) for i in nz]
                    ).astype(np.uint64)
                    # (T, 64) bit matrix as uint8 via a little-endian byte
                    # view + unpackbits (column i = bit i): 64 B of
                    # transient per token hash, not the 512 B/hash the
                    # (flat[:, None] >> shifts) uint64 form allocated —
                    # a long-document Arrow batch OOM'd the worker on the
                    # 8× larger matrix (r11 review). reduceat accumulates
                    # in int64 so >255-token documents cannot overflow.
                    bits = np.unpackbits(
                        flat.view(np.uint8).reshape(-1, 8),
                        axis=1,
                        bitorder="little",
                    )
                    starts = np.zeros(len(nz), dtype=np.int64)
                    np.cumsum(lens[nz][:-1], out=starts[1:])
                    counts = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                    sig = (
                        np.where(
                            counts * 2 >= lens[nz, None],
                            np.uint64(1) << shifts,
                            np.uint64(0),
                        )
                        .astype(np.uint64)
                        .sum(axis=1, dtype=np.uint64)
                    )
                    out[nz] = sig.view(np.int64)
            yield pd.DataFrame({"id": pdf["id"], "simhash": out})

    return prepped.mapInPandas(majority, "id long, simhash long")


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Pairs within Hamming distance `max_hamming`: pigeonhole — split the
    64-bit signature into `bands` blocks; any pair within distance d <
    bands must agree exactly on ≥1 block, so candidates = exact-match join
    per block (shuffle of 16-bit block values), then verify with popcount.
    ``delta_ids`` restricts generation to pairs touching the delta (the
    shared :func:`hamming64_pairs` incremental path)."""
    sigs = simhash_signatures(df, text_col=text_col, id_col=id_col)
    return hamming64_pairs(
        sigs, sig_col="simhash", id_col="id",
        max_hamming=max_hamming, bands=bands, delta_ids=delta_ids,
    )


def hamming64_pairs(
    sigs: DataFrame,
    *,
    sig_col: str = "simhash",
    id_col: str = "id",
    max_hamming: int = 3,
    bands: int = 4,
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Pairs of rows whose 64-bit signatures are within ``max_hamming``
    — the pigeonhole band join factored out of :func:`simhash_pairs` so
    ANY 64-bit perceptual signature can ride it (SimHash over text,
    dHash over images — `operators/multimodal.image_dhash`). Returns
    (id_a, id_b, hamming).

    ``delta_ids`` (one ``id`` column) switches to INCREMENTAL candidate
    generation — the minhash_lsh_pairs design: only pairs touching a
    delta row are generated, by joining the delta rows' band blocks
    against the full corpus's (asymmetric, O(delta x bucket) instead of
    O(bucket²)); established x established pairs never exist. Pairs
    stay canonical (id_a < id_b) regardless of which side was delta."""
    if bands <= max_hamming:
        # A real error, not an assert: under `python -O` an assert is
        # stripped and a pair at distance == bands could differ in every
        # band, silently never becoming a candidate (under-dedup).
        raise ValueError(
            f"pigeonhole requires bands > max_hamming (got bands={bands}, "
            f"max_hamming={max_hamming})"
        )
    sigs = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("simhash")
    )
    width = 64 // bands
    # Same single-loop treatment as the MinHash banding above: one
    # transform over block indices instead of `bands` unrolled structs —
    # identical block values, a fraction of the generated code.
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("block"),
                    # call_function: the Python shiftrightunsigned wrapper
                    # only takes an int shift, but the SQL expression takes
                    # any column — needed since bi is the lambda variable.
                    F.call_function(
                        "shiftrightunsigned", F.col("simhash"), bi * F.lit(width)
                    )
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("val"),
                ),
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.block", "bb.val")
    # Shuffle-hash self-join so ReuseExchange computes the signature
    # pipeline once — see the matching note in minhash_lsh_pairs (with
    # the default broadcast, one side becomes a BroadcastExchange and the
    # whole signature subtree executes twice).
    probe = blocks
    if delta_ids is not None:
        # Plain left-semi (no forced broadcast): a delta is usually tiny
        # and AQE will broadcast it, but nothing guarantees it — same
        # form as minhash_lsh_pairs' delta restriction.
        probe = blocks.join(
            delta_ids.select(F.col(delta_ids.columns[0]).alias("id")).distinct(),
            "id",
            "left_semi",
        )
    joined = (
        probe.alias("x")
        .hint("shuffle_hash")
        .join(blocks.alias("y").hint("shuffle_hash"), ["block", "val"])
    )
    if delta_ids is None:
        # Symmetric self-join: generate each pair ONCE (x.id < y.id) —
        # the least/greatest canonicalization is only needed on the
        # asymmetric delta probe, and running it here would double the
        # candidate rows through the hottest join (ADVICE r9).
        cand = (
            joined.filter(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("x.simhash").alias("sig_a"),
                F.col("y.id").alias("id_b"),
                F.col("y.simhash").alias("sig_b"),
            )
            .distinct()
        )
    else:
        cand = (
            joined.filter(F.col("x.id") != F.col("y.id"))
            .select(
                # Canonicalize: the asymmetric probe can see a pair from
                # either side (or both, when both rows are delta) — the
                # least/greatest projection plus distinct collapses them.
                F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
                F.when(F.col("x.id") < F.col("y.id"), F.col("x.simhash"))
                .otherwise(F.col("y.simhash"))
                .alias("sig_a"),
                F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
                F.when(F.col("x.id") < F.col("y.id"), F.col("y.simhash"))
                .otherwise(F.col("x.simhash"))
                .alias("sig_b"),
            )
            .distinct()
        )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def adaptive_n_blocks(n_rows: int) -> int:
    """Block count for :func:`embedding_near_dup_pairs`: ~1500 rows per
    block, 2..16 blocks (the operator's internal adaptive formula,
    exported so callers that already know the row count — e.g. from a
    session-shared snapshot statistic — can pass ``n_blocks`` explicitly
    and skip the sizing ``count()`` job without drifting from it)."""
    return max(2, min(16, -(-n_rows // 1500)))


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    top_pairs: int | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """Semantic near-dup: pairs with cosine ≥ threshold (or global top-N
    most-similar pairs), EXACT, via a **block-matrix similarity join**:

    hash ids into ``n_blocks`` blocks → pack each block into one row
    (ids + vectors) → cross-join the O(B²/2) block pairs → per pair, one
    numpy/BLAS matmul scores every cross pair at memory bandwidth →
    emit survivors → global top-k/threshold.

    Why not the row-level self-join with a zip_with cosine? Same O(N²)
    arithmetic, but per-pair array allocation makes it ~50× slower, and
    at cluster scale the blocked form is how you control task granularity
    (B² tasks of equal flops) and avoid shuffling each vector N times —
    each vector moves B times instead. For billion-row corpora, compose
    with LSH bucketing (operators.ann) to cut the quadratic term first.
    """
    import numpy as np  # noqa: F401 (imported for the worker closure)

    if n_blocks is None:
        # Adaptive granularity: blocks of ~1500 rows, capped at 16 blocks
        # (136 block-pair tasks). Small inputs get few, meaty tasks —
        # per-task scheduling overhead dominates tiny matmuls (measured at
        # N=2000: 16 blocks = 1.33 s, 4 blocks = 0.33 s warm) — while big
        # inputs stay bounded in task count; beyond ~25k rows the
        # LSH-bucketed variant is the scale path anyway (it cuts the
        # quadratic term, not just the granularity).
        #
        # N comes from plan statistics when Catalyst already knows it (no
        # job); only a bare metadata-count-able scan falls back to
        # count(). An EXPENSIVE upstream lineage (joins/UDF stages) never
        # gets re-executed just to size tasks — it gets the 16-block cap,
        # which is the right granularity for any input large enough to be
        # expensive. Callers who know better pass n_blocks explicitly.
        n = _plan_row_count(df)
        if n is None:
            try:
                leaf = df._jdf.queryExecution().optimizedPlan().getClass()
                cheap = leaf.getSimpleName() in (
                    "LogicalRelation",
                    "DataSourceV2Relation",
                    "LocalRelation",
                )
            except Exception:
                cheap = False
            n = df.count() if cheap else 16 * 1500
        n_blocks = adaptive_n_blocks(n)
    # NULL vectors carry no similarity signal and would crash the packed
    # matmul (np.array over ragged None rows) — drop them up front.
    blocks = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("b"),
    )
    packed = blocks.groupBy("b").agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    # Block-pair construction by EXPLODE + regroup, not a self-join (r16,
    # guide §2.4): the previous `packed.alias(a) ⋈ packed.alias(b)` planned
    # side b under a BroadcastExchange, so ReuseExchange could not dedupe
    # the two aggregation subtrees and the WHOLE scan→pack pipeline
    # executed twice per run — a second full corpus pass at scale for data
    # the first already held (measured at sf0.1: the duplicate subtree is
    # ~0.22 s of the 0.93 s warm execution; the rewrite runs 0.82 s with
    # bit-identical output). Here each packed block emits one row per
    # partner block keyed by the unordered pair (lo, hi); regrouping
    # co-locates the two sides of every pair. Each block still moves
    # O(n_blocks) times — the same bytes the join shuffled — but the
    # pack aggregation runs ONCE.
    sides = packed.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("p"),
        "b",
        "rows",
    ).select(
        F.least("b", "p").alias("lo"),
        F.greatest("b", "p").alias("hi"),
        "b",
        "rows",
    )
    grouped = sides.groupBy("lo", "hi").agg(
        F.collect_list(F.struct("b", "rows")).alias("sides")
    )

    thresh = None if top_pairs is not None else float(min_cosine)
    per_task_k = top_pairs

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                # Diagonal pairs (lo == hi) carry ONE side entry; off-
                # diagonal pairs carry two (sorted so ra is the lo block).
                # A sparse input can leave a block EMPTY: its pair groups
                # then hold only the partner's entry — no cross pairs
                # exist, and scoring the lone side against itself would
                # mint self-pairs (caught by test_embedding_near_dup).
                entries = sorted(row["sides"], key=lambda e: e["b"])
                if row["lo"] != row["hi"] and len(entries) < 2:
                    continue
                ra, rb = entries[0]["rows"], entries[-1]["rows"]
                ids_a = np.array([r["id"] for r in ra], dtype=np.int64)
                mat_a = np.array([r["v"] for r in ra], dtype=np.float64)
                ids_b = np.array([r["id"] for r in rb], dtype=np.int64)
                mat_b = np.array([r["v"] for r in rb], dtype=np.float64)
                na = np.linalg.norm(mat_a, axis=1, keepdims=True)
                nb = np.linalg.norm(mat_b, axis=1, keepdims=True)
                cos = (mat_a / np.where(na == 0, 1, na)) @ (
                    mat_b / np.where(nb == 0, 1, nb)
                ).T
                ii, jj = np.meshgrid(ids_a, ids_b, indexing="ij")
                if row["lo"] == row["hi"]:
                    mask = ii < jj  # within-block: upper triangle only
                else:
                    mask = np.ones_like(ii, dtype=bool)  # cross-block: all pairs
                if thresh is not None:
                    mask &= cos >= thresh
                sel = np.nonzero(mask)
                # Canonical orientation (id_a < id_b) regardless of which
                # block held the smaller id.
                ca = np.minimum(ii[sel], jj[sel])
                cb = np.maximum(ii[sel], jj[sel])
                cc = cos[sel]
                if per_task_k is not None and len(cc) > per_task_k:
                    top = np.argpartition(-cc, per_task_k)[:per_task_k]
                    ca, cb, cc = ca[top], cb[top], cc[top]
                out_a.extend(ca.tolist())
                out_b.extend(cb.tolist())
                out_c.extend(cc.tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    # Round-robin over one-pair-per-task partitions, as before: the pair
    # groups are few (≤136) and flop-heavy per byte, so AQE's byte-based
    # coalescing would otherwise merge them onto too few cores.
    pairs = grouped.repartition(max(n_blocks * (n_blocks + 1) // 2, 1)).mapInPandas(
        score, "id_a bigint, id_b bigint, cosine double"
    )
    if top_pairs is not None:
        return pairs.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(top_pairs)
    return pairs.orderBy(F.col("cosine").desc(), "id_a", "id_b")


def embedding_near_dup_bucketed(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 4,
    target_rows_per_block: int = 2048,
    dim: int | None = None,
    seed: int = 42,
    delta_ids: DataFrame | None = None,
) -> DataFrame:
    """Scale path for the embedding similarity join: **sign-LSH bucketing
    composed with blocked matmul** (the composition VERDICT r1 flagged as
    missing from :func:`embedding_near_dup_pairs`).

    1. Each vector is hashed into one bucket per hash table (``n_tables``
       independent sign-LSH tables of ``n_planes`` hyperplanes each) — a
       single data pass; per-table buckets come from one ``explode`` of an
       array of Catalyst expressions.
    2. Within a (table, bucket), rows are split into sub-blocks of
       ~``target_rows_per_block`` rows (hash of id, block count derived
       from the bucket's window count) — NO row ever packs more than ~one
       sub-block of vectors, killing the fixed-``n_blocks`` collect_list
       row bomb: packed row size is bounded by a CONSTANT independent of N,
       so Spark's 2 GB row limit is never approached at any corpus size.
    3. Sub-block pairs within the same bucket are scored by one BLAS
       matmul each (exact cosine on candidates → no false positives);
       pairs are canonicalized (id_a < id_b) and deduplicated across
       tables with a groupBy-max.

    Compute is O(Σ_b n_b²) over bucket sizes n_b ≈ N/2^planes instead of
    O(N²); recall for a pair at angle θ is 1-(1-(1-θ/π)^planes)^tables
    (exact duplicates: θ=0 → recall 1.0 deterministically). Identical
    vectors always share every bucket, so exact-dup discovery is certain.

    ``delta_ids`` (single-column DataFrame): restrict output to pairs
    touching at least one of these ids — the INCREMENTAL shape. Block
    pairs where NEITHER side holds a delta row are pruned before the
    matmul and the in-block pair mask drops established-established
    cells, so scored pair volume is O(Σ_b d_b·n_b), not O(Σ_b n_b²).
    """
    import numpy as np

    from vrod_spark.operators.ann import _planes

    if dim is None:
        # Probe a NON-NULL vector: first() on the raw column hits
        # whatever row happens to come back first — a NULL embedding gave
        # size = -1 under legacy sizeOfNull (dim <= 0 → the whole dedup
        # silently returned zero pairs) and int(None) under ANSI (r11
        # review). NULL-embedding rows are skipped by the hash/matmul
        # pipeline below either way.
        row = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d"))
            .first()
        )
        dim = int(row["d"]) if row else 0
    if dim <= 0:
        return df.sparkSession.createDataFrame(
            [], "id_a bigint, id_b bigint, cosine double"
        )

    # One struct per hash table, all computed in a single pass; explode
    # fans each row out to its n_tables (table, bucket) postings.
    from vrod_spark.operators.ann import bucket_expr

    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                bucket_expr("v", _planes(dim, n_planes, seed + t)).alias("bk"),
            )
            for t in range(n_tables)
        ]
    )
    # NULL vectors carry no similarity signal and would land in one NULL
    # LSH bucket feeding None rows to the matmul kernel — drop them.
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    if delta_ids is not None:
        dset = (
            delta_ids.select(F.col(delta_ids.columns[0]).alias("id"))
            .distinct()
            .withColumn("_d", F.lit(True))
        )
        base = base.join(dset, "id", "left").withColumn(
            "_d", F.coalesce("_d", F.lit(False))
        )
    else:
        base = base.withColumn("_d", F.lit(True))
    posted = (
        base.withColumn("tb", F.explode(tables))
        .select("id", "v", "_d", F.col("tb.t").alias("t"), F.col("tb.bk").alias("bk"))
    )

    # Sub-block assignment: bucket count via window (one shuffle on the
    # (t, bucket) key — the same shuffle the pack step needs anyway).
    w = Window.partitionBy("t", "bk")
    n_sub = F.ceil(F.count(F.lit(1)).over(w) / F.lit(target_rows_per_block)).cast("int")
    posted = posted.withColumn("sub", F.pmod(F.xxhash64("id"), n_sub).cast("int"))

    packed = (
        posted.groupBy("t", "bk", "sub")
        .agg(
            F.collect_list(F.struct("id", "v", "_d")).alias("rows"),
            F.max(F.col("_d").cast("int")).alias("has_d"),
        )
    )
    a = packed.select(
        F.col("t").alias("ta"), F.col("bk").alias("ka"),
        F.col("sub").alias("sa"), F.col("rows").alias("ra"),
        F.col("has_d").alias("da"),
    )
    b = packed.select(
        F.col("t").alias("tb_"), F.col("bk").alias("kb"),
        F.col("sub").alias("sb"), F.col("rows").alias("rb"),
        F.col("has_d").alias("db"),
    )
    block_pairs = a.join(
        b,
        (F.col("ta") == F.col("tb_")) & (F.col("ka") == F.col("kb"))
        & (F.col("sa") <= F.col("sb"))
        # Incremental pruning: a block pair with no delta member on
        # either side cannot produce a reportable pair.
        & ((F.col("da") == 1) | (F.col("db") == 1)),
    )

    thresh = float(min_cosine)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.array([r["id"] for r in row["ra"]], dtype=np.int64)
                mat_a = np.array([r["v"] for r in row["ra"]], dtype=np.float64)
                ids_b = np.array([r["id"] for r in row["rb"]], dtype=np.int64)
                mat_b = np.array([r["v"] for r in row["rb"]], dtype=np.float64)
                na = np.linalg.norm(mat_a, axis=1, keepdims=True)
                nb = np.linalg.norm(mat_b, axis=1, keepdims=True)
                cos = (mat_a / np.where(na == 0, 1, na)) @ (
                    mat_b / np.where(nb == 0, 1, nb)
                ).T
                ii, jj = np.meshgrid(ids_a, ids_b, indexing="ij")
                if row["sa"] == row["sb"]:
                    mask = ii < jj  # same sub-block: upper triangle
                else:
                    mask = ii != jj  # cross sub-block: all distinct pairs
                fa = np.array([bool(r["_d"]) for r in row["ra"]])
                fb = np.array([bool(r["_d"]) for r in row["rb"]])
                mask &= fa[:, None] | fb[None, :]
                mask &= cos >= thresh
                sel = np.nonzero(mask)
                out_a.extend(np.minimum(ii[sel], jj[sel]).tolist())
                out_b.extend(np.maximum(ii[sel], jj[sel]).tolist())
                out_c.extend(cos[sel].tolist())
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    pairs = block_pairs.mapInPandas(score, "id_a bigint, id_b bigint, cosine double")
    # The same pair can surface from several hash tables (and, for ids
    # hashed into different sub-blocks, from the (sa,sb) and... no: sub
    # assignment is a function of id, so a pair appears once per table at
    # most). Dedup across tables; cosine is exact and identical everywhere.
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .orderBy(F.col("cosine").desc(), "id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Connected components over near-dup pair graphs
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 65536,
) -> DataFrame:
    """``(id, component)`` for every node in ``edges``, where ``component``
    is the smallest node id in the node's connected component.

    Near-dup pair generators (exact Jaccard, MinHash-LSH, SimHash,
    embedding-cosine) emit EDGES; corpus dedup needs COMPONENTS — the
    keep-one-per-cluster decision is transitive (A~B, B~C must collapse
    A,B,C together even when A~C was never emitted). This is the
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    is two shuffle-join/aggregate passes over the edge set, converging to
    min-rooted stars in O(log n) rounds w.h.p.

    Scale design (the reason the distributed path is NOT label
    propagation or collect-everything):
    - no driver-side graph state and no ``collect_list`` adjacency — a
      web-scale near-dup graph has power-law degrees, and materializing a
      hot node's neighbor list in one row is the classic skew bomb. Both
      stars are expressed as groupBy-min + shuffle-join, so a hot node's
      edges stay spread across tasks;
    - rounds shrink the edge set monotonically toward one edge per
      non-root node, so later rounds are cheaper, not costlier;
    - ``localCheckpoint(eager=True)`` after every round truncates the
      iterative lineage (on a cluster, swap for ``checkpoint()`` against
      a fault-tolerant dir — the knob is isolated here);
    - convergence is detected by a one-job (count, hash-sum) signature,
      CONFIRMED by exact ``exceptAll`` equality before declaring
      convergence; ``max_iter`` (default 25 ≈ log-rounds for far beyond
      10^15 nodes) only guards a pathological non-termination bug, loudly;
    - a graph whose ENTIRE edge set is tiny (≤ ``small_graph_threshold``
      edges ≈ ≤1 MB of id pairs — a BOUNDED collect, same class as the
      4-row/64-bucket collects elsewhere in this repo) skips the loop and
      union-finds on the driver: each distributed round costs 3-4 fixed
      job latencies regardless of data size, so for sliver graphs the
      loop is pure overhead. Near-dup graphs at 100 TB are NOT slivers —
      they take the distributed path (threshold compares against the
      actual edge count, not a guess); set ``small_graph_threshold=0``
      to force the distributed path (the property tests do).

    vRod parity: the reference's DEDUP-adjacent surface stops at pairwise
    stubs (src/command/types.rs:82-106 UPDATE/DELETE are the only
    mutators); component formation is the [N] north-star layer that makes
    near-dedup a deployable corpus operation.
    """
    spark = edges.sparkSession
    # Long-castability is required, loudly: casting a non-numeric id
    # column would NULL every edge and make downstream dedup a silent
    # no-op ("0 duplicates removed") instead of a type error.
    integral = {"byte", "short", "int", "bigint", "long"}
    for c in (src_col, dst_col):
        dtype = dict(edges.dtypes).get(c)
        if dtype not in integral:
            raise TypeError(
                f"connected_components: column {c!r} has type {dtype!r}; "
                "node ids must be integral (map string ids to longs — e.g. "
                "xxhash64 — before clustering)"
            )
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.count() <= small_graph_threshold:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        pairs = [(r["u"], r["v"]) for r in e.collect()]
        for u, v in pairs:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        rows = [(x, find(x)) for x in parent]
        if not rows:
            return spark.createDataFrame([], "id long, component long")
        from vrod_spark.localdf import local_df

        return local_df(spark, rows, "id long, component long")
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def sig_of(df: DataFrame):
        """One-job convergence signature: (count, 64-bit content hash sum).
        Candidate equality by signature, CONFIRMED by an exact exceptAll
        before declaring convergence — the exact check runs once, at the
        end, instead of every round."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: exact, and cannot overflow under ANSI
            # mode the way a long sum of 64-bit hashes can.
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"] or 0), row["h"]

    n_edges, prev_hash = sig_of(e)
    for _ in range(max_iter):
        if n_edges == 0:
            break
        # A near-dup graph is usually a sliver of the corpus: once the
        # edge set is known small, run the loop's shuffles single-task —
        # the rounds are driver-latency-bound, not data-bound, and 32-way
        # exchanges of a few hundred rows are pure scheduling overhead.
        # Large graphs keep their parallelism (AQE also re-coalesces).
        if n_edges < 1_000_000 and e.rdd.getNumPartitions() > 1:
            e = e.coalesce(1)
        # Large-star: every node u connects its strictly-larger neighbors
        # to m(u) = min(N(u) ∪ {u}). Output edges (v, m) keep the
        # canonical first-greater orientation because m <= u < v.
        # (Duplicate emissions are harmless to the min-aggregates and are
        # collapsed by the end-of-round distinct, so no mid-round
        # distinct shuffle.)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # Small-star: every node u (edges oriented u > v) connects its
        # smaller neighborhood ∪ itself to its minimum neighbor.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new, new_hash = sig_of(small)
        if (
            n_new == n_edges
            and new_hash == prev_hash
            and small.exceptAll(e).isEmpty()
        ):
            e = small
            break
        e, n_edges, prev_hash = small, n_new, new_hash
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_edges} edges remain) — this indicates a bug, not a big graph: "
            "the algorithm converges in O(log n) rounds."
        )
    stars = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return nodes.join(stars, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def duplicate_span_arrays(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    scope: str = "cross_doc",
    mark_join: str = "broadcast",
) -> DataFrame:
    """EXACT-SUBSTRING duplication spans (the axis of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL 2022:
    document-level MinHash misses the boilerplate/licence/quote passages
    that repeat INSIDE otherwise-unique documents): per document, the
    maximal contiguous token ranges covered by ``min_tokens``-grams that
    also occur elsewhere in the corpus.

    ``scope="cross_doc"`` marks a gram duplicated when it appears in at
    least two distinct documents; ``scope="any"`` additionally catches
    within-document repeats (two or more occurrences anywhere).

    The paper's suffix array is a single-node design; the Spark-first
    equivalence used here is that a substring of t >= k tokens is
    duplicated iff all of its t-k+1 overlapping k-grams are duplicated:

    1. posexplode tokens and build each position's k-gram key with
       ``lead`` over a per-document window — ``md5(concat_ws(' ', tok,
       lead(tok,1) … lead(tok,k-1)))`` — so gram construction is pure
       JVM window/codegen work. The earlier in-array ``zip_with`` chain
       avoided this shuffle but its k-1 interpreted higher-order passes
       (O(k²) char copying per gram) cost ~6× more CPU at bench scale;
       the window's (id, pos, tok) exchange is the same order of volume
       as the gram exchange the groupBy needs anyway, so at 100 TB this
       trades ≤2× shuffle volume for removing the interpreted hot loop.
       md5 is 128-bit, so cross-gram collisions are negligible and the
       gram TEXT never shuffles — the shuffled key is 16 bytes
       regardless of k;
    2. mark duplicated grams with a partial-aggregable
       ``groupBy("g")`` — ``min(id) != max(id)`` for the cross-document
       test (no count-distinct expansion), a plain count for
       ``scope="any"`` — then semi-join the dup-gram set back
       (broadcast by default; ``mark_join="shuffle"`` when the set
       itself outgrows a broadcast). An earlier revision used ONE
       window over ``g`` to stay single-scan, but a window partition
       is a single task: a boilerplate gram in 10^8 documents is a
       straggler at 100 TB. The agg's map-side partial min/max
       pre-combines hot grams per task before the exchange, and with a
       broadcast probe the token-window exchange is shared by both
       subtrees (ReuseExchange), so the extra cost over the window
       form is re-running the gram window from the reused exchange —
       not a second scan (plan-pinned in test_plans);
    3. ONE groupBy collects each document's sorted marked positions and
       the interval merge runs in-array: a marked position is a span
       START iff the gap to its predecessor exceeds k (END
       symmetrically), and the i-th start pairs with the i-th end — two
       linear ``filter`` passes + one ``zip_with``, O(marked positions)
       per document with no quadratic array rebuilding. (Marked
       positions per document are bounded by its token count, so the
       collected array is NOT an unbounded-state risk at scale.)

    The gram/window stages are all codegen (no Python); the shuffles
    are the token window, the gram window, and the per-document
    collect. Returns one row per document that HAS
    duplicated substrings: ``(id_col, doc_tokens, spans)`` where
    ``spans`` is an ``array<struct<span_start, span_end, n_tokens>>``
    of inclusive 0-based token ranges and ``doc_tokens`` the document's
    token count (carried through so consumers computing coverage
    fractions need no second tokenization scan).

    vRod parity: the DEDUP verb family (src/command/builder.rs:52-55);
    this is the sub-document complement of the document-level strategies.
    """
    if scope not in ("cross_doc", "any"):
        raise ValueError(f"scope must be 'cross_doc' or 'any', got {scope!r}")
    k = int(min_tokens)
    if k < 2:
        raise ValueError("min_tokens must be >= 2 (1 would flag every repeated word)")
    grams = _gram_stream(df, text_col=text_col, id_col=id_col, k=k)
    # Dup-gram test as a partial-aggregable groupBy + broadcast semi-join,
    # NOT a window over g: Window.partitionBy("g") puts ALL occurrences of
    # a hot gram in ONE task — at 100 TB a boilerplate gram appearing in
    # 10^8 documents is a straggler. HashAggregate's map-side partial
    # min/max pre-combines each task's occurrences of the hot gram to a
    # single row before the exchange (the salt-free skew fix for
    # algebraic aggregates), so the final agg sees O(tasks) rows per gram
    # no matter how hot it is. The dup-gram set (grams that DO repeat) is
    # then semi-joined back; ``mark_join="broadcast"`` (default) keeps the
    # probe side shuffle-free — both subtrees share the token-window
    # exchange, which ReuseExchange computes once. For corpora whose
    # dup-gram set itself outgrows a broadcast (planet-scale boilerplate
    # variety), ``mark_join="shuffle"`` trades it for a g-keyed semi-join.
    if scope == "cross_doc":
        # min != max over the ids ⟺ "appears in >= 2 distinct
        # documents" without the count-distinct expand/dedup machinery.
        dup_test = F.min("id") != F.max("id")
    else:
        dup_test = F.count(F.lit(1)) >= 2
    dup_g = grams.groupBy("g").agg(dup_test.alias("_dup")).filter("_dup").select("g")
    if mark_join == "broadcast":
        dup_g = F.broadcast(dup_g)
    elif mark_join != "shuffle":
        raise ValueError(f"mark_join must be 'broadcast' or 'shuffle', got {mark_join!r}")
    marked = grams.join(dup_g, "g", "semi")
    return _spans_from_marked(marked, k=k, id_col=id_col)


def _gram_stream(
    df: DataFrame, *, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Step 1 of the span machinery: per-position k-gram md5 keys as a
    (id, n, pos, g) stream — lead-window construction, pure codegen, the
    gram TEXT never leaves the projection (16-byte keys shuffle)."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("toks")
    ).filter(F.size("toks") >= k)
    wtok = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(wtok) for i in range(1, k)]
    return (
        toked.select(
            "id", F.size("toks").alias("n"), F.posexplode("toks").alias("pos", "tok")
        )
        .withColumn("g", F.md5(F.concat_ws(" ", *parts)))
        .filter(F.col("pos") <= F.col("n") - k)
        .select("id", "n", "pos", "g")
    )


def _spans_from_marked(marked: DataFrame, *, k: int, id_col: str) -> DataFrame:
    """Step 3: collect each document's marked gram positions and merge
    them into maximal (span_start, span_end, n_tokens) intervals with
    in-array passes (see duplicate_span_arrays' contract notes)."""
    perdoc = marked.groupBy("id").agg(
        F.first("n").alias("doc_tokens"),
        F.sort_array(F.collect_list("pos")).alias("ps"),
    )
    ps = F.col("ps")
    # when-guards keep element_at in range (ANSI mode throws on 0 / out
    # of bounds; CaseWhen branches evaluate lazily).
    starts = F.filter(
        ps,
        lambda p, i: F.when(i == 0, F.lit(True)).otherwise(
            (p - F.element_at(ps, i)) > k
        ),
    )
    ends = F.filter(
        ps,
        lambda p, i: F.when(i == F.size(ps) - 1, F.lit(True)).otherwise(
            (F.element_at(ps, i + 2) - p) > k
        ),
    )
    spans = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.alias("span_start"),
            (e + F.lit(k - 1)).alias("span_end"),
            (e - s + F.lit(k)).alias("n_tokens"),
        ),
    )
    return perdoc.select(
        F.col("id").alias(id_col), "doc_tokens", spans.alias("spans")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    scope: str = "cross_doc",
    mark_join: str = "broadcast",
) -> DataFrame:
    """Per-span row view of :func:`duplicate_span_arrays`: one
    ``(id_col, span_start, span_end, n_tokens)`` row per maximal
    duplicated token range (inclusive 0-based); a document with no
    duplicated substring emits no row."""
    arrays = duplicate_span_arrays(
        df, text_col=text_col, id_col=id_col, min_tokens=min_tokens,
        scope=scope, mark_join=mark_join,
    )
    return arrays.select(id_col, F.explode("spans").alias("s")).select(
        id_col, "s.span_start", "s.span_end", "s.n_tokens"
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    scope: str = "cross_doc",
    mark_join: str = "broadcast",
) -> DataFrame:
    """Cut the :func:`duplicate_spans` ranges out of each document — the
    apply phase of exact-substring dedup (Lee et al. cut EVERY occurrence
    of a duplicated span, the released tool's default; keep-one semantics
    would need a global span-ownership rule the paper itself forgoes).

    The span list joins back per document (bounded: spans per doc, not
    grams) and tokens are dropped by position with higher-order array
    expressions — the blob of text is rebuilt once, single-space joined
    (``tokens`` is whitespace tokenization, so intra-document whitespace
    is normalized; byte-exact text around the cuts is out of scope for a
    whitespace-token pipeline and documented here).

    Returns the input schema with ``text_col`` rewritten and an
    ``n_cut_tokens`` accounting column appended.
    """
    per_doc = duplicate_span_arrays(
        df,
        text_col=text_col,
        id_col=id_col,
        min_tokens=min_tokens,
        scope=scope,
        mark_join=mark_join,
    )
    return _apply_span_cuts(df, per_doc, text_col=text_col, id_col=id_col)


def _apply_span_cuts(
    df: DataFrame, per_doc: DataFrame, *, text_col: str, id_col: str
) -> DataFrame:
    """Apply phase shared by span REMOVAL consumers: join the
    (id, doc_tokens, spans) arrays back and drop tokens by position with
    higher-order array expressions (see remove_duplicate_spans' notes)."""
    per_doc = per_doc.select(
        id_col,
        F.col("spans").alias("__spans"),
        F.aggregate(
            "spans", F.lit(0), lambda a, s: a + s["n_tokens"]
        ).alias("__cut"),
    )
    toked = df.withColumn("__toks", tokens(text_col))
    joined = toked.join(per_doc, id_col, "left")
    indexed = F.zip_with(
        F.col("__toks"),
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0))),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    keep = F.filter(
        indexed,
        lambda s: ~F.coalesce(
            F.exists(
                "__spans",
                lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
            ),
            F.lit(False),
        ),
    )
    # NULL text stays NULL (unknown content, not empty content):
    # concat_ws over the all-NULL expression chain would rewrite it to ""
    # (r11 review; dedup_lines preserves NULL the same way).
    out_cols = [
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", F.transform(keep, lambda s: s["t"])))
        .alias(c)
        if c == text_col
        else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *out_cols, F.coalesce(F.col("__cut"), F.lit(0)).cast("bigint").alias("n_cut_tokens")
    )


def contaminated_span_arrays(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    min_tokens: int = 13,
    mark_join: str = "broadcast",
) -> DataFrame:
    """Training-set spans whose every ``min_tokens``-gram also occurs in
    the EVAL corpus — the span-level face of benchmark decontamination
    (the GPT-3 appendix-C / PaLM practice: scrub 13-gram overlaps with
    evaluation sets from the training data, rather than dropping whole
    documents). Same machinery as duplicate_span_arrays, with the
    dup-gram set replaced by the eval corpus's DISTINCT gram keys:

    1. the train side builds its positional gram stream once
       (_gram_stream — lead-window md5 keys, codegen);
    2. the eval side contributes only ``distinct(md5 gram)`` — 16-byte
       keys, one map-side-combined distinct, broadcast by default
       (eval sets are small by definition; ``mark_join="shuffle"`` when
       they are not);
    3. marked positions merge into maximal intervals in-array.

    Returns (id_col, doc_tokens, spans) rows for contaminated train
    documents only. Default ``min_tokens=13`` is the published GPT-3
    setting."""
    k = int(min_tokens)
    if k < 2:
        raise ValueError("min_tokens must be >= 2")
    grams = _gram_stream(df, text_col=text_col, id_col=id_col, k=k)
    eval_g = (
        _gram_stream(eval_df, text_col=eval_text_col, id_col=id_col, k=k)
        .select("g")
        .distinct()
    )
    if mark_join == "broadcast":
        eval_g = F.broadcast(eval_g)
    elif mark_join != "shuffle":
        raise ValueError(f"mark_join must be 'broadcast' or 'shuffle', got {mark_join!r}")
    marked = grams.join(eval_g, "g", "semi")
    return _spans_from_marked(marked, k=k, id_col=id_col)


def decontaminate_spans(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    min_tokens: int = 13,
    mark_join: str = "broadcast",
) -> DataFrame:
    """Cut every :func:`contaminated_span_arrays` range out of the
    training text — returns the input schema with ``text_col`` rewritten
    plus ``n_cut_tokens``. Idempotent: a second pass against the same
    eval set finds nothing (the k-grams that remain each straddle a cut
    boundary and no longer occur in eval)."""
    per_doc = contaminated_span_arrays(
        df,
        eval_df,
        text_col=text_col,
        id_col=id_col,
        eval_text_col=eval_text_col,
        min_tokens=min_tokens,
        mark_join=mark_join,
    )
    return _apply_span_cuts(df, per_doc, text_col=text_col, id_col=id_col)


def dedup_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
    unit: str = "line",
) -> DataFrame:
    """CCNet-style corpus-global LINE dedup (Wenzek et al. 2020 §3.1's
    paragraph dedup, at line granularity): every line whose NORMALIZED
    form occurs elsewhere in the corpus is removed from all but its first
    occurrence (first = smallest ``(id, line position)``). The web-corpus
    boilerplate killer — navigation bars, cookie banners and footers are
    exactly the lines that repeat across pages — and the line-granular
    complement to ``duplicate_spans`` (token ranges) and
    ``c4_line_stats`` (per-page rules).

    Normalization before hashing (lowercase, digits → ``0``, strip
    non-letter/non-0/non-space) follows the published recipe so "Viewed 17
    times" and "Viewed 204 times" fuse. Lines whose normalized form is
    shorter than ``min_chars`` (default: empty after normalization) are
    exempt — they carry no dedup evidence, and hashing them would fuse
    every blank line in the corpus into one key.

    ``unit="paragraph"`` switches the dedup unit to blank-line-separated
    paragraphs — the granularity the CCNet paper itself uses (§3.1);
    surviving paragraphs re-join with a normalized ``\\n\\n``. Everything
    else (normalization, winner rule, scale shape) is identical, and
    ``n_cut_lines`` counts cut UNITS.

    Returns the input schema with ``text_col`` rewritten (surviving lines
    re-joined in order; a fully-deduped page keeps an empty string) plus
    ``n_cut_lines``.

    Scale shape: winners are a ``groupBy(line-hash).min(struct(id, pos))``
    — partial-aggregable map-side, so a boilerplate line in 10⁸ documents
    combines within each task before one (hash, 12-byte struct) row per
    distinct line crosses the wire. The only full-width line shuffle is
    the winner semi-join + per-document rebuild. The join DOES colocate
    all copies of one hot line in one task (same accepted caveat as the
    span dup-mark); the per-row work there is a constant-time struct
    compare.
    """
    if unit not in ("line", "paragraph"):
        raise ValueError(f'unit must be "line" or "paragraph", got {unit!r}')
    sep_pattern = "\n" if unit == "line" else "\n{2,}"
    join_sep = "\n" if unit == "line" else "\n\n"
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep_pattern)).alias("_pos", "_line"),
    )
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col("_line"))), "[0-9]", "0"),
        r"[^\p{L}0 ]",
        "",
    )
    lines = lines.withColumn(
        "_nh", F.when(F.length(norm) >= min_chars, F.md5(norm))
    )
    cand = lines.filter(F.col("_nh").isNotNull())
    winners = cand.groupBy("_nh").agg(
        F.min(F.struct("_id", "_pos")).alias("_w")
    )
    kept = (
        cand.join(winners, "_nh")
        .filter((F.col("_id") == F.col("_w._id")) & (F.col("_pos") == F.col("_w._pos")))
        .select("_id", "_pos", "_line")
        .unionByName(
            lines.filter(F.col("_nh").isNull()).select("_id", "_pos", "_line")
        )
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            join_sep,
        ).alias("_new_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), sep_pattern))
    out = (
        # Null-safe equality: a NULL-id row's rebuilt text must join back
        # (plain == misses NULL==NULL, wiping its text to "" and calling
        # every line cut — r11 review). Multiple NULL-id docs remain a
        # degenerate input (they group as one doc upstream), but a single
        # NULL-id row now round-trips correctly.
        df.join(rebuilt, df[id_col].eqNullSafe(rebuilt["_id"]), "left")
        .withColumn(
            "n_cut_lines",
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(n_lines - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long"),
        )
        .withColumn(
            # NULL pages pass through as NULL (no content, nothing cut);
            # fully-deduped pages become the empty string.
            text_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.coalesce(F.col("_new_text"), F.lit(""))),
        )
        .drop("_id", "_new_text", "_n_kept")
    )
    return out

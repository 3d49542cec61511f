"""Similarity search over embedding columns (SURVEY.md Phase 4).

Two paths:
  * ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
    set against the corpus; per-row dot products are native Catalyst
    lambdas in double precision (left-to-right summation — deterministic
    and oracle-matchable). At 100 TB the corpus side stays partitioned,
    queries broadcast, ranking is a per-query window over corpus
    partitions — no corpus shuffle until the final top-k reduction.
  * ``lsh_bucket_topk`` — random-hyperplane LSH: a deterministic integer
    formula picks hyperplane signs, each vector maps to a bucket id
    (map-only), and search joins query buckets to corpus buckets before
    ranking — the quadratic step is confined to one bucket. Recall is
    approximate by construction.

Both are pure DataFrame ops with exact DuckDB oracles (the hyperplane
pattern is integer-derived, not RNG-derived, so both engines agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Deterministic hyperplane sign pattern: sign(j, d) = +1 if
# ((j+1)*73856093 + d*19349663) % 97 < 48 else -1. Integer-only -> portable.
LSH_PLANES = 16
LSH_C1 = 73856093
LSH_C2 = 19349663
LSH_MOD = 97
LSH_HALF = 48


# Fixed widths unrolled in dot_sql: the embeddings fixture is 64-dim at
# every SF (queries/pca._EMB_DIM) and the PCA subspace is 8-dim. Other
# widths fall back to the generic fold.
DOT_UNROLL_DIMS = (64, 8)


def _dot_fold_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def dot_sql(a: str, b: str, unroll: bool = False) -> str:
    """Double-precision dot product of two float-array columns.

    Casting each element to double before multiply/add makes the result
    bit-identical to any engine that sums left-to-right in double.

    ``unroll=True`` (round 12): Catalyst evaluates higher-order-function
    lambdas interpreted (codegen fallback), which made the fold the hot
    spot of the brute-force distance pass (27.5 s for 4M 64-dim pairs in
    one task at sf0.1). For the fixed widths the engine actually ships
    (DOT_UNROLL_DIMS), the unrolled form emits an explicitly
    left-associated chain ``(((0 + a[0]*b[0]) + a[1]*b[1]) + ...)`` —
    plain codegen-able arithmetic with the SAME evaluation order, null
    semantics and floating-point result bit-for-bit (xxhash64 checksums
    identical over all 4M pairs; 5.5x on the brute-force pass). Other
    widths fall back to the generic fold via a size() guard.

    It stays OPT-IN because it is not universally a win: in the
    clustering/kmeans paths, where dot_sql lands inside much larger
    generated functions, the ~300-node unrolled tree pushed stages past
    codegen limits into interpreted evaluation and semdedup_prune
    DOUBLED (4.2 s -> 8.7 s measured). Use it only where a measurement
    shows the fold is the hot spot. ``a``/``b`` must be simple column
    references when unrolling (every call site passes one), so repeating
    them per element costs nothing."""
    fold = _dot_fold_sql(a, b)
    if not unroll:
        return fold
    branches = []
    for dim in DOT_UNROLL_DIMS:
        chain = "CAST(0 AS DOUBLE)"
        for i in range(dim):
            chain = (
                f"({chain} + (CAST({a}[{i}] AS DOUBLE) * "
                f"CAST({b}[{i}] AS DOUBLE)))"
            )
        branches.append(
            f"WHEN size({a}) = {dim} AND size({b}) = {dim} THEN {chain}"
        )
    return f"(CASE {' '.join(branches)} ELSE {fold} END)"


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def duck_norm(a: str) -> str:
    return f"sqrt({duck_dot(a, a)})"


def hyperplane_sign_sql(j: int, vec: str) -> str:
    """Spark SQL: sign of dot(vec, h_j) with the deterministic ±1 plane.

    The plane constant is precomputed in Python and emitted as a long
    literal — (j+1)*C1 + d*C2 overflows int32 (ANSI mode would error).
    """
    base = (j + 1) * LSH_C1
    # fold the sequence DIRECTLY (no intermediate transform() array):
    # same elements in the same left-to-right order — bit-identical to
    # the previous transform+aggregate spelling and the DuckDB mirror —
    # but one fewer 64-element array allocation per plane per row
    return (
        f"aggregate(sequence(1, size({vec})), CAST(0 AS DOUBLE), (acc, d) -> "
        f"acc + (CASE WHEN ({base}L + CAST(d - 1 AS BIGINT) * {LSH_C2}L) % {LSH_MOD} < {LSH_HALF} "
        f"THEN CAST(element_at({vec}, d) AS DOUBLE) "
        f"ELSE -CAST(element_at({vec}, d) AS DOUBLE) END))"
    )


def duck_hyperplane_sign(j: int, vec: str) -> str:
    base = (j + 1) * LSH_C1
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({vec}) + 1), d -> "
        f"CASE WHEN (CAST({base} AS BIGINT) + (d - 1) * CAST({LSH_C2} AS BIGINT)) "
        f"% {LSH_MOD} < {LSH_HALF} "
        f"THEN CAST({vec}[d] AS DOUBLE) ELSE -CAST({vec}[d] AS DOUBLE) END)), "
        f"(acc, v) -> acc + v)"
    )


def bucket_sql(vec: str, n_planes: int = LSH_PLANES) -> str:
    """LSH bucket id: n_planes sign bits packed into a long."""
    bits = " + ".join(
        f"(CASE WHEN {hyperplane_sign_sql(j, vec)} > 0 "
        f"THEN {1 << j}L ELSE 0L END)"
        for j in range(n_planes)
    )
    return f"({bits})"


def duck_bucket(vec: str, n_planes: int = LSH_PLANES) -> str:
    bits = " + ".join(
        f"(CASE WHEN {duck_hyperplane_sign(j, vec)} > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(n_planes)
    )
    return f"({bits})"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cos_sim, rank).

    Self-matches excluded. Query side is broadcast (small by contract);
    ranking ties break on neighbor id. Zero-norm embeddings are dropped
    at entry: cosine is undefined for them, and engines disagree on 0/0
    (Spark NULL, IEEE NaN/inf) so they must never reach the division.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(norm_sql(vec_col)).alias("qnorm"),
    ).filter(F.col("qnorm") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.expr(norm_sql(vec_col)).alias("cnorm"),
    ).filter(F.col("cnorm") > 0)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            # unroll=True: this projection IS the whole stage (scan ->
            # nested-loop join -> project), so the codegen-able chain
            # wins 5.5x with no risk of blowing a larger function past
            # codegen limits (see dot_sql docstring).
            F.expr(dot_sql("qv", "cv", unroll=True))
            / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: rank only within the query's LSH bucket.
    Zero-norm embeddings dropped at entry (cosine undefined)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(norm_sql(vec_col)).alias("qnorm"),
        F.expr(bucket_sql(vec_col)).alias("bucket"),
    ).filter(F.col("qnorm") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.expr(norm_sql(vec_col)).alias("cnorm"),
        F.expr(bucket_sql(vec_col)).alias("bucket"),
    ).filter(F.col("cnorm") > 0)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.expr(dot_sql("qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# Default skew posture for the embedding-dedup bucket join (round 6 —
# same measured operating point as operators/graph.py knn_edges_ann).
COSINE_DEDUP_MAX_BUCKET = 512
COSINE_DEDUP_RING_CAP = 128
# Closure-expansion CC budget: near-dup components are near-cliques
# (diameter 1-2); ring chains add a few hops. Loud error beyond.
MAX_CC_ITERATIONS = 20


def cosine_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 4,
    band_bits: int | None = None,
    max_bucket: int | None = COSINE_DEDUP_MAX_BUCKET,
    ring_cap: int | None = COSINE_DEDUP_RING_CAP,
    collapse_identical: bool = True,
    expand_components: bool = True,
    max_component: int = 10_000,
    scoring: str = "auto",
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cos_sim >= threshold)
    via BANDED random-hyperplane LSH candidates — the scale path:
    candidate generation is a (band, bucket) equi-join, never an
    all-pairs cross product.

    Round-6 hardening (the knn_edges_ann / minhash lessons, applied):

    * Candidates come from the SAME banded engine as the ANN graph build
      (operators/graph.banded_srp_candidates): ``n_bands`` bands of
      ``band_bits`` planes (auto-derived from a corpus count by
      default), hybrid ``max_bucket``+``ring_cap`` skew controls
      DEFAULT-ON. Banding matters for RECALL, not just cost: a single
      16-plane bucket hash keeps a cos=0.9 pair with probability ~0.08
      (p_plane^16, p_plane = 1 - theta/pi ~ 0.857) and even a
      cos=0.9999 pair only ~0.96 — measured 0.655 duplicate recall on
      the 100x near-copy corpus. Four 4-bit bands keep a 0.9 pair with
      ~0.95 and a near-1.0 pair with ~1-1e-9, and each band's ring has
      a DIFFERENT projection ordering, so a hot-bucket pair missed in
      one band's ring is caught in another's.
    * ``collapse_identical`` (default on): bit-identical vectors collapse
      to a min-id representative FIRST (one hash window — arrays leave
      the plan right after). Banding + verification run over distinct
      vectors only; member pairs expand back afterwards (intra-group
      pairs get the rep's self-cosine — the same double the naive path
      computes, since cos(v, v) is one value per vector — and
      cross-group pairs inherit the rep-pair cosine, exact because
      members equal reps). Output is identical to the naive path; the
      verify cost depends on DISTINCT vectors, not raw rows.
    * Candidates are (id, band, bucket) only; embeddings join back BY ID
      after pair generation, so the float arrays never ride the
      bucket-join shuffle (and the vector table broadcasts under
      JOINBACK_BROADCAST_MAX_ROWS — plan-only).
    * ``expand_components`` (default on): connected components of the
      pass-1 pairs, then EVERY within-component pair exactly verified.
      Ring sampling finds each near-dup group's chain but can miss far
      pairs under interleaving (measured 0.84-0.93 pair recall at 100x
      however the caps were tuned); the closure recovers the clique
      from the chain at a verify cost equal to the output's own size.
      ``max_component`` bounds the quadratic expansion with a loud
      error (threshold graphs can chain beyond a clique).
    """
    from .graph import banded_srp_candidates, release_ann_caches

    if (max_bucket is None) != (ring_cap is None):
        raise ValueError(
            "cosine_dedup_pairs: pass max_bucket AND ring_cap (hybrid) or "
            "neither (uncapped); skip-only mode drops duplicates silently"
        )
    release_ann_caches()  # previous build's tracked intermediates
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(norm_sql(vec_col)).alias("nrm"),
        # zero-norm vectors: cosine undefined, engines disagree on 0/0
    ).filter(F.col("nrm") > 0)

    if collapse_identical:
        mem = base.withColumn(
            "rep_id", F.min("id").over(Window.partitionBy("v"))
        )
        from .graph import _track_ann_cache

        # consumed by four lazy references in the returned expansion
        # plan; tracked for release on the next build (ADVICE r6)
        mem_ids = _track_ann_cache(mem.select("id", "rep_id").cache())
        reps = mem.filter(F.col("id") == F.col("rep_id")).select(
            "id", "v", "nrm"
        )
    else:
        reps = base

    from .graph import SCORING_FOLD_MAX_N, derive_band_bits

    if scoring not in ("auto", "fold", "bucket"):
        raise ValueError(f"scoring must be auto|fold|bucket, got {scoring!r}")
    n = reps.count()
    if band_bits is None:
        band_bits = derive_band_bits(n)
    if scoring == "auto":
        # same strategy switch as knn_edges_ann: the JVM fold is
        # bit-portable with the DuckDB mirror and costs nothing at
        # conformance scale; above the bound, pass-1 runs bucket-local
        # (threshold pairs emitted straight out of numpy batches —
        # non-duplicates never materialize). cos_sim differs from the
        # fold by float summation order only; the closure expansion and
        # the collapse bookkeeping below are strategy-independent.
        scoring = "fold" if n <= SCORING_FOLD_MAX_N else "bucket"
    if scoring == "bucket":
        from .graph import _bucket_local_threshold_pairs, _numpy_banded_signatures

        exploded = _numpy_banded_signatures(
            reps.select("id", F.col("v").alias("embedding"), "nrm"),
            n_bands,
            band_bits,
        )
        cand = None
    else:
        cand = banded_srp_candidates(
            reps.select("id", F.col("v").alias("embedding")),
            n_bands=n_bands,
            band_bits=band_bits,
            max_bucket=max_bucket,
            ring_cap=ring_cap,
        ).select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))

    # Same join-back physical strategy as knn_edges_ann: broadcast the
    # rep vector table under JOINBACK_BROADCAST_MAX_ROWS so the
    # pairs-sized candidate table never shuffles; plan-only.
    from .graph import JOINBACK_BROADCAST_MAX_ROWS

    bcast = n <= JOINBACK_BROADCAST_MAX_ROWS
    va = reps.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = reps.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    def verify(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(F.broadcast(va) if bcast else va, "id_a")
            .join(F.broadcast(vb) if bcast else vb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    if scoring == "bucket":
        rep_pairs = _bucket_local_threshold_pairs(
            exploded, threshold, max_bucket, ring_cap
        )
    else:
        rep_pairs = verify(cand)

    if expand_components:
        # COMPONENT-CLOSURE EXPANSION (round 6, default-on): ring
        # sampling in hot buckets finds the CHAIN of a near-dup group
        # (adjacent copies sort consecutively in every band's
        # projection) but can miss far pairs when other groups
        # interleave — measured pair recall 0.84-0.93 on the 100x
        # near-copy corpus however the caps were tuned. The closure
        # recovers the CLIQUE from the chain: connected components of
        # the pass-1 pairs, then EVERY within-component pair is
        # exactly verified. For true duplicate groups the verify cost
        # equals the output's own size (C(group, 2) — inherent to a
        # pair-emitting contract), and measured recall goes to ~1.0.
        # Components of a threshold graph can chain beyond a clique;
        # max_component bounds the quadratic expansion loudly.
        from .graph import connected_components

        # Truncate lineage before the iterative CC: each CC round (and
        # the size guard, and the expansion) would otherwise re-derive
        # the full banded-candidate + verify plan — measured OOM at
        # 100x from the accumulated plans/broadcasts. The checkpointed
        # frame is pairs-sized (two longs + a double per row).
        rep_pairs = rep_pairs.localCheckpoint(eager=True)
        comp = connected_components(
            rep_pairs.select("id_a", "id_b"), max_iterations=MAX_CC_ITERATIONS
        )
        big = (
            comp.groupBy("component")
            .count()
            .filter(F.col("count") > max_component)
            .limit(1)
            .collect()
        )
        if big:
            raise ValueError(
                f"cosine_dedup_pairs: a near-dup component exceeds "
                f"max_component={max_component} (size {big[0]['count']}): "
                "the all-pairs expansion would be quadratic in it. Raise "
                "max_component if the output size is intended, or lower "
                "the threshold chain by raising `threshold`."
            )
        ca = comp.select(F.col("node").alias("id_a"), "component")
        cb = comp.select(F.col("node").alias("id_b"), "component")
        cand2 = ca.join(cb, "component").filter(
            F.col("id_a") < F.col("id_b")
        ).select("id_a", "id_b")
        rep_pairs = verify(cand2)

    if not collapse_identical:
        return rep_pairs.select("id_a", "id_b", "cos_sim")

    # Intra-group: every member pair of an identical-vector group carries
    # the rep's SELF-cosine — computed with the same dot/norm expressions
    # the naive path would apply to the (equal) member vectors, so the
    # double matches bit-for-bit (it is ~1.0 but not the literal 1.0:
    # dot(v,v) != sqrt(dot)^2 in IEEE). The threshold filter is applied
    # for strict semantic equality with the naive path.
    self_cos = reps.select(
        F.col("id").alias("rep_id"),
        (
            F.expr(dot_sql("v", "v")) / (F.col("nrm") * F.col("nrm"))
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
    x, y = mem_ids.alias("x"), mem_ids.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .join(self_cos.alias("s"), F.col("x.rep_id") == F.col("s.rep_id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            "cos_sim",
        )
    )
    # Cross-group: cos(a, b) for identical-vector members equals the
    # rep-pair cosine; expand each rep pair to the member cross product.
    ma = mem_ids.select(F.col("rep_id").alias("id_a"), F.col("id").alias("m_a"))
    mb = mem_ids.select(F.col("rep_id").alias("id_b"), F.col("id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "cos_sim",
        )
    )
    return intra.unionByName(cross)


# =========================================================================
# Int8 scalar quantization (4x memory / 100-TB ANN corpus compression)
# =========================================================================
# Per-vector symmetric quantization: scale = max|x| / 127, q_i = round-half
# -up(x_i / scale) as an int8-range integer. Rounding is spelled as
# floor(v + 0.5) in BOTH engines — never the engines' round(), whose
# half-way modes differ. All arithmetic is IEEE double + exact int64, so
# quantized vectors and quantized dot products are bit-identical across
# engines — the quantized ANN has an exact oracle, unlike float-sum ANN
# rankings which need the pinned left-to-right fold.

INT8_LEVELS = 127


def amax_sql(vec: str) -> str:
    return (
        f"aggregate({vec}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    )


def duck_amax(vec: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({vec}, x -> abs(CAST(x AS DOUBLE)))), "
        f"(acc, x) -> greatest(acc, x))"
    )


def int8_quant_sql(vec: str, scale_col: str) -> str:
    """Quantized int array from a float-array column and a staged scale
    column (stage the scale — projection-collapse would inline the amax
    fold into every element otherwise)."""
    return (
        f"CASE WHEN {scale_col} = 0 THEN transform({vec}, x -> 0) ELSE "
        f"transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) / {scale_col} + 0.5d) AS INT)) "
        f"END"
    )


def duck_int8_quant(vec: str, scale_col: str) -> str:
    return (
        f"CASE WHEN {scale_col} = 0 THEN list_transform({vec}, x -> 0) ELSE "
        f"list_transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) / {scale_col} + 0.5) AS INTEGER)) "
        f"END"
    )


def int_dot_sql(a: str, b: str) -> str:
    """Exact int64 dot product of two int-array columns."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def duck_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT))), "
        f"(acc, v) -> acc + v)"
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, qscale, qvec, qnorm_sq): int8-range quantized vectors.

    Map-only; at 100 TB this is the compression pass that shrinks an ANN
    corpus 4x (int8 vs float32) before it is persisted or shuffled. The
    quantized self-dot (qnorm_sq, exact int64) rides along so the search
    step never recomputes norms.
    """
    staged = df.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        (F.expr(amax_sql(vec_col)) / INT8_LEVELS).alias("qscale"),
    )
    q = staged.select(
        id_col,
        "qscale",
        F.expr(int8_quant_sql("v", "qscale")).alias("qvec"),
    )
    return q.withColumn("qnorm_sq", F.expr(int_dot_sql("qvec", "qvec")))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by int8-quantized cosine: (query_id, neighbor_id, qcos, rank).

    The search-time arithmetic is exact int64 (quantized dot) divided by
    IEEE-exact norms — bit-identical across engines, so even the RANKING
    has an exact oracle. Same topology as brute force (broadcast queries,
    partitioned corpus), but the corpus side it scans is the 4x-smaller
    int8 table — the memory/bandwidth win quantization buys at 100 TB.
    """
    # Zero-vector guard on qscale, not qnorm_sq: the conditions are
    # equivalent (scale = max|x|/127 is 0 iff the vector is all-zero iff
    # the quantized self-dot is 0), but qnorm_sq's definition is the full
    # quantize+dot fold and Catalyst inlines a pushed filter's defining
    # expression into the scan — duplicating that fold per row. qscale's
    # defining expression is one cheap max-abs fold, safe to push.
    cq = quantize_embeddings(corpus, vec_col, id_col).filter(F.col("qscale") > 0)
    qq = (
        quantize_embeddings(queries, vec_col, id_col)
        .filter(F.col("qscale") > 0)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("qvec").alias("q_qvec"),
            F.col("qnorm_sq").alias("q_nsq"),
        )
    )
    c = cq.select(
        F.col(id_col).alias("neighbor_id"), "qvec", F.col("qnorm_sq").alias("c_nsq")
    )
    scored = (
        c.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "qcos",
            F.expr(int_dot_sql("q_qvec", "qvec")).cast("double")
            / (
                F.sqrt(F.col("q_nsq").cast("double"))
                * F.sqrt(F.col("c_nsq").cast("double"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qcos", "rank")
    )

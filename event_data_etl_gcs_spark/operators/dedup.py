"""Deduplication operators (SURVEY.md Phase 4 north star): exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first design:
  * Exact dedup = hash groupBy (one shuffle on the content key, map-side
    partial aggregation).
  * MinHash signatures and SimHash are map-only column expressions over
    the portable polynomial hashes in operators.text. Each signature is
    built as ONE let-bound expression (see text.let_sql) so Catalyst's
    projection collapse cannot re-evaluate the hash chain per consumer,
    and the signature frame is cached as the materialization barrier
    before its two consumers (band join + Jaccard verify). At cluster
    scale the same barrier is a persisted signature table.
  * LSH candidate generation = self-equi-join on (band_id, band_key):
    Catalyst plans a shuffle/broadcast hash join on the band key — exactly
    the "bucket join" an LSH index does at scale; band keys spread
    uniformly so skew is bounded. The quadratic step never touches the
    full corpus.
  * Verification (exact Jaccard on shingle-hash sets) joins the arrays
    back by doc id for candidate pairs only, instead of shipping the
    arrays through the 4x-exploded band shuffle.

All integer arithmetic -> every operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import (
    HASH_P,
    duck_let,
    duck_shingle_hash_set,
    duck_token_hashes,
    duck_tokens,
    let_sql,
    shingle_hash_set_sql,
    token_hashes_sql,
    tokens_sql,
)

# Fixed MinHash parameters: h_j(x) = (A[j] * x + B[j]) mod HASH_P.
# Constants are arbitrary odd numbers < HASH_P, pinned for reproducibility.
MINHASH_A = (452930477, 949121103, 260933191, 577932821, 383339053, 823987307, 144066163, 674525495)
MINHASH_B = (83173903, 274582805, 592314181, 430183029, 721549031, 131159933, 936523877, 357151253)
N_HASHES = 8
N_BANDS = 4  # 2 rows per band -> candidate if any band matches
ROWS_PER_BAND = N_HASHES // N_BANDS


def _minhash_params_array_sql() -> str:
    structs = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"array({structs})"


def minhash_signature_struct_sql(text_col: str) -> str:
    """ONE Spark expression producing struct(sh_hashes, mhs):
    distinct shingle hashes + the N_HASHES MinHash values. Empty shingle
    set -> sentinel HASH_P (never collides with a real hash)."""
    mhs = (
        f"transform({_minhash_params_array_sql()}, p -> "
        f"CASE WHEN size(sh) = 0 THEN {HASH_P}L ELSE "
        f"array_min(transform(sh, h -> (h * p.a + p.b) % {HASH_P})) END)"
    )
    return let_sql(
        shingle_hash_set_sql(text_col),
        "sh",
        f"named_struct('sh_hashes', sh, 'mhs', {mhs})",
    )


def duck_minhash_signature_cols() -> str:
    """DuckDB: mh_0..mh_{N-1} select-list items from an `sh_hashes` column."""
    items = []
    for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)):
        items.append(
            f"CASE WHEN len(sh_hashes) = 0 THEN CAST({HASH_P} AS BIGINT) ELSE "
            f"list_min(list_transform(sh_hashes, h -> (h * {a} + {b}) % {HASH_P})) END"
            f" AS mh_{j}"
        )
    return ", ".join(items)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sh_hashes, mhs) — cached: this is the materialization barrier
    both LSH banding and Jaccard verification read from."""
    spark = df.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        # spread the CPU-heavy hashing across all cores even when the
        # input is one small parquet file
        .repartition(nparts)
        .select("id", F.expr(minhash_signature_struct_sql("text")).alias("sig"))
        .select("id", F.col("sig.sh_hashes").alias("sh_hashes"), F.col("sig.mhs").alias("mhs"))
    )
    # Tracked in the shared build-cache registry (ADVICE r6): sessions
    # running many dedup builds — or the streaming corpus-ingest loop —
    # previously accumulated one signature cache per call for the
    # session lifetime. release_ann_caches() bounds that at one build.
    from .graph import _track_ann_cache

    return _track_ann_cache(sig.cache())


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``collapse_identical`` (default on) runs exact dedup FIRST: identical
    texts are collapsed to a min-id representative, banding + Jaccard
    verification run over distinct texts only, and member pairs are
    expanded back afterwards (intra-group pairs get jaccard 1.0 without
    touching the shingle arrays; cross-group pairs inherit the rep-pair
    jaccard). Without this, a group of c identical documents lands
    c*(c-1)/2 candidate pairs in the verify join and each pair pays the
    full array_intersect — the measured 32x blow-up at 100x replication
    (SCALE_100x.md). With it, the verify cost depends only on the number
    of DISTINCT texts; the group expansion is a cheap integer join. The
    output is identical either way (identical texts share every band, so
    the naive path also emits all intra-group pairs at jaccard 1.0).
    Pass False only when the input is already exact-deduped.
    """
    if not collapse_identical:
        sig = minhash_signatures(df, id_col, text_col).filter(
            # docs with no shingles (<3 tokens) all share the sentinel
            # signature and would cross-collide; they can't be near-dups.
            F.expr("size(sh_hashes) > 0")
        )
        return _lsh_pairs_from_sig(sig, threshold)

    # Exact-dedup-first: one hash window on the text assigns each row its
    # group's min-id representative (single shuffle, no join back).
    from pyspark.sql import Window

    mem = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .withColumn("rep_id", F.min("id").over(Window.partitionBy("text")))
    )
    # (id, rep_id) barrier: consumed by the intra- and cross-group
    # expansions below. Tiny (two longs per row).
    mem_ids = mem.select("id", "rep_id").cache()
    reps = mem.filter(F.col("id") == F.col("rep_id")).select("id", "text")
    sig = minhash_signatures(reps, "id", "text").filter(
        F.expr("size(sh_hashes) > 0")
    )
    rep_pairs = _lsh_pairs_from_sig(sig, threshold)

    # Intra-group: every member pair of a duplicate group is jaccard 1.0 —
    # but only for groups whose text actually has shingles (the no-shingle
    # filter above must apply to members exactly as it does to reps).
    shingled = sig.select(F.col("id").alias("rep_id"))
    x, y = mem_ids.alias("x"), mem_ids.alias("y")
    intra = (
        x.join(y, (F.col("x.rep_id") == F.col("y.rep_id")) & (F.col("x.id") < F.col("y.id")))
        .join(shingled.alias("s"), F.col("x.rep_id") == F.col("s.rep_id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # Cross-group: jaccard(a, b) for identical-text members equals the
    # rep-pair jaccard; expand each rep pair to the member cross product.
    ma = mem_ids.select(F.col("rep_id").alias("id_a"), F.col("id").alias("m_a"))
    mb = mem_ids.select(F.col("rep_id").alias("id_b"), F.col("id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def _lsh_pairs_from_sig(sig: DataFrame, threshold: float) -> DataFrame:
    """Banding + candidate join + exact Jaccard verify over a cached
    (id, sh_hashes, mhs) signature frame."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            *[F.col("mhs")[b * ROWS_PER_BAND + r].alias(f"k{r}") for r in range(ROWS_PER_BAND)],
        )
        for b in range(N_BANDS)
    ]
    bands = sig.select("id", F.explode(F.array(*band_structs)).alias("band")).select(
        "id", "band.*"
    )
    a, b = bands.alias("a"), bands.alias("b")
    key_eq = (F.col("a.band_id") == F.col("b.band_id"))
    for r in range(ROWS_PER_BAND):
        key_eq = key_eq & (F.col(f"a.k{r}") == F.col(f"b.k{r}"))
    cand = (
        a.join(b, key_eq & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ha = sig.select(F.col("id").alias("id_a"), F.col("sh_hashes").alias("ha"))
    hb = sig.select(F.col("id").alias("id_b"), F.col("sh_hashes").alias("hb"))
    jac = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("n_int", F.expr("size(array_intersect(ha, hb))"))
        .withColumn("n_uni", F.expr("size(array_union(ha, hb))"))
        .withColumn(
            "jaccard",
            F.when(F.col("n_uni") == 0, F.lit(0.0)).otherwise(
                F.col("n_int").cast("double") / F.col("n_uni")
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def duck_minhash_lsh_ctes(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    prefix: str = "",
) -> str:
    """DuckDB CTE fragments computing `{prefix}mh_pairs(id_a, id_b,
    jaccard)` from `table` — composable into larger WITH statements (same
    constants and math as minhash_lsh_pairs). `prefix` namespaces every
    CTE so two instances (e.g. over the raw corpus and over a deduped
    stage) can coexist in one query."""
    p = prefix
    band_rows = " UNION ALL ".join(
        "SELECT id, {b} AS band_id, [{keys}] AS key FROM {p}sig".format(
            b=b,
            p=p,
            keys=", ".join(f"mh_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return f"""{p}hashed AS (
  SELECT {id_col} AS id, {duck_shingle_hash_set(text_col)} AS sh_hashes
  FROM {table}
), {p}sig AS (
  SELECT id, sh_hashes, {duck_minhash_signature_cols()}
  FROM {p}hashed WHERE len(sh_hashes) > 0
), {p}bands AS (
  {band_rows}
), {p}cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM {p}bands a JOIN {p}bands b
    ON a.band_id = b.band_id AND a.key = b.key AND a.id < b.id
), {p}jac AS (
  SELECT id_a, id_b,
    CASE WHEN len(list_distinct(list_concat(sa.sh_hashes, sb.sh_hashes))) = 0 THEN 0.0
         ELSE CAST(len(list_intersect(sa.sh_hashes, sb.sh_hashes)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh_hashes, sb.sh_hashes))) END AS jaccard
  FROM {p}cand
  JOIN {p}sig sa ON sa.id = {p}cand.id_a
  JOIN {p}sig sb ON sb.id = {p}cand.id_b
), {p}mh_pairs AS (
  SELECT id_a, id_b, jaccard FROM {p}jac WHERE jaccard >= {threshold}
)"""


def duck_minhash_lsh_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> str:
    """DuckDB oracle for minhash_lsh_pairs — same constants, same math."""
    ctes = duck_minhash_lsh_ctes(table, id_col, text_col, threshold)
    return f"WITH {ctes} SELECT id_a, id_b, jaccard FROM mh_pairs"


def minhash_incremental_pairs(
    new_docs: DataFrame,
    existing_sig: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup: check NEW documents against an already-
    indexed corpus without re-hashing it.

    ``existing_sig`` is a persisted signature table in the
    ``minhash_signatures`` schema (id, sh_hashes, mhs) — in production a
    parquet table appended to per batch; rebuilding signatures for 100 TB
    of already-seen text per increment is the cost this avoids. Returns
    ``(pairs, new_sig)``:

      * ``pairs`` — (id_a, id_b, jaccard) with id_a < id_b, every pair
        involving >= 1 new doc (new-vs-existing AND new-vs-new; pairs
        wholly inside the existing corpus were already reported when
        those docs were new).
      * ``new_sig`` — signatures of the new docs, for the caller to
        append to the persisted table before the next increment.

    Scale shape: the banding join is (new bands) x (all bands) on the
    band key — the small new side streams against the indexed corpus,
    Jaccard verification touches candidates only, and nothing recomputes
    the existing corpus' hashes. Ids must be globally unique across
    existing + new (same contract as any index append).
    """
    sig_new = minhash_signatures(new_docs, id_col, text_col).filter(
        F.expr("size(sh_hashes) > 0")
    )
    sig_all = existing_sig.select("id", "sh_hashes", "mhs").unionByName(sig_new)

    def _bands(sig: DataFrame) -> DataFrame:
        band_structs = [
            F.struct(
                F.lit(b).alias("band_id"),
                *[
                    F.col("mhs")[b * ROWS_PER_BAND + r].alias(f"k{r}")
                    for r in range(ROWS_PER_BAND)
                ],
            )
            for b in range(N_BANDS)
        ]
        return sig.select(
            "id", F.explode(F.array(*band_structs)).alias("band")
        ).select("id", "band.*")

    a, b = _bands(sig_new).alias("a"), _bands(sig_all).alias("b")
    key_eq = (F.col("a.band_id") == F.col("b.band_id"))
    for r in range(ROWS_PER_BAND):
        key_eq = key_eq & (F.col(f"a.k{r}") == F.col(f"b.k{r}"))
    cand = (
        a.join(b, key_eq & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    ha = sig_all.select(F.col("id").alias("id_a"), F.col("sh_hashes").alias("ha"))
    hb = sig_all.select(F.col("id").alias("id_b"), F.col("sh_hashes").alias("hb"))
    jac = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("n_int", F.expr("size(array_intersect(ha, hb))"))
        .withColumn("n_uni", F.expr("size(array_union(ha, hb))"))
        .withColumn(
            "jaccard",
            F.when(F.col("n_uni") == 0, F.lit(0.0)).otherwise(
                F.col("n_int").cast("double") / F.col("n_uni")
            ),
        )
    )
    pairs = jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    return pairs, sig_new


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_struct_sql(text_col: str) -> str:
    """ONE Spark expression: 32-bit SimHash of a text column via portable
    token hashes. bit b set iff sum over tokens of (+1 if bit b of token
    hash else -1) > 0."""
    bits = (
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN aggregate(th, 0L, "
        f"(acc, h) -> acc + CASE WHEN (h div shiftleft(1L, b)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN shiftleft(1L, b) ELSE 0L END), "
        f"0L, (acc, x) -> acc + x)"
    )
    tok_hashes = let_sql(tokens_sql(text_col), "tk", token_hashes_sql("tk"))
    return let_sql(tok_hashes, "th", bits)


def duck_simhash_expr(text_col: str) -> str:
    bits = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), th), "
        f"(acc, h) -> acc + CASE WHEN (h // (CAST(1 AS BIGINT) << b)) % 2 = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)), "
        f"(acc, x) -> acc + x)"
    )
    tok_hashes = duck_let(duck_tokens(text_col), "tk", duck_token_hashes("tk"))
    return duck_let(tok_hashes, "th", bits)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds simhash + two 16-bit half-band columns (candidate blocking
    keys: near-dups at small hamming distance usually share a half)."""
    return (
        df.withColumn("simhash", F.expr(simhash_struct_sql(text_col)))
        .withColumn("band_lo", F.expr("simhash % 65536").cast("long"))
        .withColumn("band_hi", F.expr("simhash div 65536").cast("long"))
    )


def fuzzy_pairs_levenshtein(
    df: DataFrame,
    key_col: str,
    block_cols: list[str],
    max_dist: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance fuzzy-match pairs: (id_a, id_b, dist <= max_dist).

    The O(len^2)-per-pair Levenshtein only runs on candidates from a
    blocking equi-join (same ``block_cols``) pre-filtered by the length
    bound |len(a) - len(b)| <= max_dist (a true lower bound on edit
    distance, so no matches are lost). Spark's thresholded
    ``levenshtein(a, b, t)`` early-exits DP rows once the running minimum
    exceeds t — the verify step is O(len * t), not O(len^2), on
    non-matches. Same candidate/verify topology as MinHash LSH: never
    all-pairs, cost bounded by block sizes.
    """
    sel = [
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.length(key_col).alias("klen"),
        *[F.col(c) for c in block_cols],
    ]
    side = df.select(*sel)
    a, b = side.alias("a"), side.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (
        F.abs(F.col("a.klen") - F.col("b.klen")) <= max_dist
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .withColumn(
            "dist",
            F.expr(f"levenshtein(a.key, b.key, {max_dist})"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_identical: bool = True,
    return_sizes: bool = False,
):
    """Asymmetric shingle-CONTAINMENT pairs: (id_a, id_b, containment)
    with containment = |S_a ∩ S_b| / |S_a| >= threshold — the
    doc-within-doc duplication signal symmetric Jaccard misses (a short
    document quoted inside a long one has high containment but LOW
    Jaccard, so MinHash-LSH's band collisions — tuned for Jaccard —
    systematically under-sample exactly these pairs).

    Candidates come from PREFIX FILTERING (the SSJoin/PPJoin family,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): order each doc's
    shingles by ascending global document frequency (rarest first) and
    emit only its first ``n_a - ceil(t * n_a) + 1`` as probe keys; a
    container sharing >= ceil(t * n_a) of A's shingles CANNOT miss all
    of them (pigeonhole), so the filter is EXACT — zero false
    negatives, which is why the registered query's oracle is the plain
    all-pairs form. The threshold is carried as a RATIONAL
    (threshold_num / threshold_den) so the required-overlap count is
    exact integer arithmetic — ``ceil(0.8 * n)`` in floating point can
    round up past the true bound and silently drop true pairs.

    Scale shape: one explode of the distinct shingle sets (skinny
    (id, h) rows — the arrays never ride the probe join), one doc-freq
    aggregate on h, one per-doc window for the prefix ranks, the
    prefix-probe equi-join on h, then an id-join verify over candidate
    pairs only. Probe postings are biased short by construction (each
    doc probes with its RAREST shingles); a corpus whose documents are
    built entirely from ubiquitous shingles degrades toward the
    blocked quadratic — the same hot-bucket shape as LSH, with the
    same remedy (raise k / cap postings at a measured recall cost).
    """
    from .graph import _track_ann_cache
    from pyspark.sql import Window

    sets = docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingle_hash_set_sql(text_col)).alias("s"),
    ).filter(F.size("s") > 0)
    # consumed by the posting explode AND both verify join-backs;
    # tracked in the shared build-cache registry (ADVICE r6 bounding)
    sets = _track_ann_cache(sets.cache())
    # (id, n_sh) off the SAME cached frame — callers needing sizes
    # (keep policies) must not pay a second shingle computation
    sizes = sets.select("id", F.size("s").alias("n_sh"))

    def _ret(pairs_df):
        return (pairs_df, sizes) if return_sizes else pairs_df

    if collapse_identical:
        # The r2 minhash lesson, containment edition: exact-duplicate
        # documents (the dominant shape in uncleaned crawl corpora)
        # share a shingle SET — so every duplicate probes identical
        # prefixes and the probe join degrades quadratically in the
        # dup-group size. Collapse identical sets (keyed by the sorted
        # array) to a min-id representative first: prefix filtering
        # runs over DISTINCT sets, and member pairs expand back
        # afterwards with exact values (identical sets ⇒ within-group
        # containment is n/n = 1.0 exactly; cross-group pairs inherit
        # the rep pair's division verbatim). Output identical to the
        # uncollapsed build (pytest-pinned).
        mem = sets.withColumn(
            "rep_id", F.min("id").over(Window.partitionBy(F.sort_array("s")))
        )
        mem_ids = _track_ann_cache(mem.select("id", "rep_id").cache())
        reps = mem.filter(F.col("id") == F.col("rep_id")).select("id", "s")
    else:
        reps = sets

    post = reps.select("id", F.explode("s").alias("h"))
    freq = post.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "h")
    prefix = (
        post.join(freq, "h")
        .withColumn("n_a", F.count("*").over(Window.partitionBy("id")))
        .withColumn("rn", F.row_number().over(w))
        # required overlap = ceil(num * n / den), exactly, in integers
        .filter(
            F.col("rn")
            <= F.expr(
                f"n_a - (({threshold_num} * n_a + {threshold_den} - 1) "
                f"DIV {threshold_den}) + 1"
            )
        )
        .select("id", "h")
    )
    cand = (
        prefix.alias("a")
        .join(post.alias("b"), "h")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = reps.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    vb = reps.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    thr = threshold_num / threshold_den
    rep_pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.expr("size(array_intersect(sa, sb))").cast("double")
                / F.expr("size(sa)")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(thr))
    )
    if not collapse_identical:
        return _ret(rep_pairs)

    # Cross-group expansion: member sets equal their rep's set, so the
    # rep pair's containment value applies verbatim to every member
    # combination.
    ma = mem_ids.select(F.col("rep_id").alias("id_a"), F.col("id").alias("m_a"))
    mb = mem_ids.select(F.col("rep_id").alias("id_b"), F.col("id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.col("m_a").alias("id_a"),
            F.col("m_b").alias("id_b"),
            "containment",
        )
    )
    if thr > 1.0:
        return _ret(cross)
    # Within-group pairs: |S∩S| / |S| = 1.0 exactly (n/n is an exact
    # IEEE division for any n), the same double the uncollapsed verify
    # computes — qualifying whenever the threshold is <= 1.
    x, y = mem_ids.alias("x"), mem_ids.alias("y")
    intra = (
        x.join(
            y,
            (F.col("x.rep_id") == F.col("y.rep_id"))
            & (F.col("x.id") != F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(1.0).alias("containment"),
        )
    )
    return _ret(cross.unionByName(intra))


def containment_keep(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles): keep-the-container dedup — a doc whose
    shingle set is >= threshold contained in a STRICTLY LARGER set is
    dropped (ties keep the smaller id). Sizes come off the SAME cached
    shingle frame the pair build uses, so the policy costs zero extra
    shingle computations (previously both the registered keep query and
    the v4 pipeline re-shingled the corpus just to rank sizes)."""
    pairs, sizes = containment_pairs(
        docs,
        threshold_num=threshold_num,
        threshold_den=threshold_den,
        id_col=id_col,
        text_col=text_col,
        return_sizes=True,
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    losers = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (F.col("nb") > F.col("na"))
            | ((F.col("nb") == F.col("na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return (
        sizes.select(F.col("id").alias(id_col), "n_sh")
        .join(losers, id_col, "left_anti")
        .select(id_col, F.col("n_sh").cast("long").alias("n_shingles"))
    )

"""Text-analysis operators: tokenization, language ID, quality scoring,
token counting, document fingerprinting (SURVEY.md Phase 4 north star).

All hot-path expressions are native Catalyst lambdas (transform /
aggregate / filter over arrays) — JVM-side, no Python serialization.
The hash primitives are *portable polynomial hashes* (integer arithmetic
only) so every operator here has an exact DuckDB oracle — unlike
xxhash64/murmur which are engine-specific.

Convention: multi-step expressions stage intermediate arrays (tokens,
shingles, hashes) as real columns, so each is computed once instead of
being inlined into every lambda.

At 100 TB these are embarrassingly parallel map-only operators: no
shuffle; filters and projections on other columns still push down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Modulus for polynomial hashing: large prime < 2^30 so a*h+b stays in int64.
HASH_P = 1_000_000_007
HASH_BASE = 31
# Token-combination base for shingle hashes (shingle hash = polynomial
# combination of its token hashes — each character is hashed exactly once).
SHINGLE_BASE = 1_000_003

# Deterministic marker lexicons for the language-ID heuristic. Order fixed:
# ties break toward the first listed language.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "los", "que", "una", "es", "y"),
    "fr": ("le", "les", "des", "est", "une", "dans", "et"),
    "zh": ("de", "shi", "bu", "le", "zai", "you", "wo"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be",
)


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# =========================================================================
# Spark-SQL expression builders (strings for F.expr)
# =========================================================================
#
# Composition uses a LET-binding idiom: ``transform(array(expr), v ->
# body)[0]`` evaluates ``expr`` exactly once and binds it to the lambda
# variable ``v``. Without it, Catalyst's CollapseProject inlines staged
# columns into every consumer, re-evaluating the (expensive) hash chain
# per reference — measured ~6x slowdown on the dedup pipeline.


def let_sql(expr: str, var: str, body: str) -> str:
    """Spark SQL let-binding: evaluate expr once, bind as `var` in body."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def duck_let(expr: str, var: str, body: str) -> str:
    """DuckDB equivalent (lists are 1-indexed)."""
    return f"(list_transform([{expr}], {var} -> {body})[1])"


def tokens_sql(col: str) -> str:
    """Whitespace tokenization; empty/blank text -> empty array (not [''])."""
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN array() "
        f"ELSE split(trim({col}), '\\\\s+') END"
    )


def char_hash_sql(col: str) -> str:
    """Polynomial rolling hash over the characters of a string expression.

    Explicit 1-based substring indexing — identical semantics in Spark and
    DuckDB (split-on-empty-pattern is engine-dependent). sequence() is
    guarded because Spark's sequence(1, 0) is *descending*, not empty.
    """
    return (
        f"CASE WHEN length({col}) = 0 THEN 0L ELSE "
        f"aggregate(transform(sequence(1, length({col})), "
        f"i -> ascii(substring({col}, i, 1))), "
        f"0L, (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_P}) END"
    )


def token_hashes_sql(tok_col: str) -> str:
    """Array of polynomial hashes, one per token of an array column."""
    return f"transform({tok_col}, t -> {char_hash_sql('t')})"


def shingles_sql(tok_col: str, k: int = 3) -> str:
    """k-token shingles (space-joined) of a token-array column; <k tokens
    -> empty array."""
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(k))
    return (
        f"CASE WHEN size({tok_col}) < {k} THEN array() ELSE "
        f"transform(sequence(1, size({tok_col}) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def shingle_hash_set_sql(text_col: str, k: int = 3) -> str:
    """Distinct k-token shingle hashes straight from a text column, as ONE
    expression with no subexpression duplication (let-bound stages).

    Shingle hash = polynomial combination of the k token hashes
    (base SHINGLE_BASE, mod HASH_P) — each character is hashed once, vs 3x
    when hashing shingle strings.
    """
    combine = "element_at(th, i)"
    for j in range(1, k):
        combine = f"(({combine} * {SHINGLE_BASE} + element_at(th, i + {j})) % {HASH_P})"
    from_token_hashes = (
        f"CASE WHEN size(th) < {k} THEN array() ELSE "
        f"array_distinct(transform(sequence(1, size(th) - {k - 1}), "
        f"i -> {combine})) END"
    )
    tok_hashes = let_sql(
        tokens_sql(text_col), "tk", f"transform(tk, t -> {char_hash_sql('t')})"
    )
    return let_sql(tok_hashes, "th", from_token_hashes)


def duck_shingle_hash_set(text_col: str, k: int = 3) -> str:
    """DuckDB oracle for shingle_hash_set_sql — same math."""
    combine = "th[i]"
    for j in range(1, k):
        combine = f"(({combine} * {SHINGLE_BASE} + th[i + {j}]) % {HASH_P})"
    from_token_hashes = (
        f"CASE WHEN len(th) < {k} THEN CAST([] AS BIGINT[]) ELSE "
        f"list_distinct(list_transform(range(1, len(th) - {k - 2}), "
        f"i -> {combine})) END"
    )
    tok_hashes = duck_let(
        duck_tokens(text_col), "tk", f"list_transform(tk, t -> {duck_char_hash('t')})"
    )
    return duck_let(tok_hashes, "th", from_token_hashes)


# =========================================================================
# DuckDB oracle builders (same math, DuckDB syntax)
# =========================================================================

def duck_tokens(col: str) -> str:
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex(trim({col}), '\\s+') END"
    )


def duck_char_hash(col: str) -> str:
    return (
        f"CASE WHEN length({col}) = 0 THEN CAST(0 AS BIGINT) ELSE "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(ascii(substring({col}, i, 1)) AS BIGINT))), "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_P}) END"
    )


def duck_token_hashes(tok_col: str) -> str:
    return f"list_transform({tok_col}, t -> {duck_char_hash('t')})"


def duck_shingles(tok_col: str, k: int = 3) -> str:
    parts = ", ".join(f"{tok_col}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tok_col}) < {k} THEN CAST([] AS VARCHAR[]) ELSE "
        f"list_transform(range(1, len({tok_col}) - {k - 2}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


# =========================================================================
# DataFrame-level operators
# =========================================================================

def with_tokens(df: DataFrame, text_col: str = "text", out: str = "toks") -> DataFrame:
    return df.withColumn(out, F.expr(tokens_sql(text_col)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc-level token/char counts (whitespace tokenizer)."""
    return with_tokens(df, text_col).withColumns(
        {
            "n_tokens": F.expr("size(toks)").cast("long"),
            "n_chars_text": F.length(text_col).cast("long"),
        }
    ).drop("toks")


def language_id_column(tok_col: str = "toks") -> Column:
    """Marker-lexicon language ID over a token-array column: argmax of
    per-language marker counts, 'und' when nothing matches. Deterministic
    tie-break = LANG_MARKERS declaration order. Integer logic -> exact
    oracle."""
    scores = {
        lang: F.expr(f"size(filter({tok_col}, t -> t IN ({_sql_list(words)})))")
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Reversed CASE chain: first language in declaration order wins ties.
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return pred


def duck_language_id(tok_col: str = "toks") -> str:
    score = {
        lang: f"len(list_filter({tok_col}, t -> t IN ({_sql_list(words)})))"
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    chain = " ".join(
        f"WHEN {best} > 0 AND {score[lang]} = {best} THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"CASE {chain} ELSE 'und' END"


def quality_columns(text_col: str = "text", tok_col: str = "toks") -> dict[str, Column]:
    """Deterministic quality features. Ratios are double divisions of
    exact integers — bit-identical across engines, no rounding needed."""
    n_tokens = F.expr(f"size({tok_col})")
    n_chars = F.length(text_col)
    n_stop = F.expr(f"size(filter({tok_col}, t -> t IN ({_sql_list(STOPWORDS)})))")
    n_punct = n_chars - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))
    one = F.lit(1)
    return {
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": (n_chars - (n_tokens - one)).cast("double")
        / F.greatest(n_tokens, one),
        "stopword_ratio": n_stop.cast("double") / F.greatest(n_tokens, one),
        "punct_ratio": n_punct.cast("double") / F.greatest(n_chars, one),
    }


# GPT-2-style pretokenizer regex, restricted to the syntax subset that
# behaves identically in Java regex (Spark) and RE2 (DuckDB): no
# lookahead, leftmost-first alternation, unicode \p classes. Pieces:
# contractions, optional-space letter runs, optional-space digit runs,
# optional-space punctuation runs, residual whitespace.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens_column(text_col: str = "text") -> Column:
    """BPE-ish pretokens (whitespace-run matches dropped): the token
    stream a byte-pair encoder would merge over. Native regexp — JVM-side,
    no Python in the loop."""
    all_matches = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))
    return F.filter(all_matches, lambda t: ~t.rlike(r"^\s+$"))


def duck_bpe_tokens(text_col: str = "text") -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return (
        f"list_filter(regexp_extract_all({text_col}, '{pat}'), "
        f"t -> NOT regexp_matches(t, '^\\s+$'))"
    )


def repetition_columns(
    tok_col: str = "toks",
    bigram_col: str = "bg",
    trigram_col: str = "tg",
) -> dict[str, Column]:
    """Gopher/C4-style repetition features over staged token/n-gram array
    columns (caller stages them once — see the let-binding note above).

    The mode-count lambdas are O(distinct x n) per document — documents
    are KB-sized, so this stays cheap and JVM-native; corpus-level cost
    is map-only. Ratios are double divisions of exact integers, so both
    engines produce bit-identical values.
    """
    n = F.expr(f"size({tok_col})")
    n_bg = F.expr(f"size({bigram_col})")
    n_tg = F.expr(f"size({trigram_col})")
    one = F.lit(1)

    def mode_count(arr: str) -> Column:
        return F.expr(
            f"CASE WHEN size({arr}) = 0 THEN 0L ELSE "
            f"array_max(transform(array_distinct({arr}), "
            f"x -> size(filter({arr}, y -> y = x)))) END"
        )

    return {
        "n_tokens": n.cast("long"),
        "distinct_token_ratio": F.expr(
            f"size(array_distinct({tok_col}))"
        ).cast("double") / F.greatest(n, one),
        "top_token_frac": mode_count(tok_col).cast("double") / F.greatest(n, one),
        "top_bigram_frac": mode_count(bigram_col).cast("double")
        / F.greatest(n_bg, one),
        "dup_trigram_frac": (
            n_tg - F.expr(f"size(array_distinct({trigram_col}))")
        ).cast("double") / F.greatest(n_tg, one),
    }


def duck_repetition_select(
    tok_col: str = "toks", bigram_col: str = "bg", trigram_col: str = "tg"
) -> dict[str, str]:
    """DuckDB oracle for repetition_columns — same integer math."""

    def mode_count(arr: str) -> str:
        return (
            f"CASE WHEN len({arr}) = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"list_max(list_transform(list_distinct({arr}), "
            f"x -> CAST(len(list_filter({arr}, y -> y = x)) AS BIGINT))) END"
        )

    return {
        "n_tokens": f"CAST(len({tok_col}) AS BIGINT)",
        "distinct_token_ratio": (
            f"(CAST(len(list_distinct({tok_col})) AS DOUBLE) "
            f"/ greatest(len({tok_col}), 1))"
        ),
        "top_token_frac": (
            f"(CAST({mode_count(tok_col)} AS DOUBLE) / greatest(len({tok_col}), 1))"
        ),
        "top_bigram_frac": (
            f"(CAST({mode_count(bigram_col)} AS DOUBLE) "
            f"/ greatest(len({bigram_col}), 1))"
        ),
        "dup_trigram_frac": (
            f"(CAST(len({trigram_col}) - len(list_distinct({trigram_col})) "
            f"AS DOUBLE) / greatest(len({trigram_col}), 1))"
        ),
    }


def duck_quality_select(text_col: str = "text", tok_col: str = "toks") -> dict[str, str]:
    n_tokens = f"len({tok_col})"
    n_chars = f"length({text_col})"
    n_stop = f"len(list_filter({tok_col}, t -> t IN ({_sql_list(STOPWORDS)})))"
    n_punct = f"({n_chars} - length(regexp_replace({text_col}, '[.,!?;:]', '', 'g')))"
    return {
        "n_tokens": f"CAST({n_tokens} AS BIGINT)",
        "mean_token_len": (
            f"(CAST({n_chars} - ({n_tokens} - 1) AS DOUBLE) / greatest({n_tokens}, 1))"
        ),
        "stopword_ratio": f"(CAST({n_stop} AS DOUBLE) / greatest({n_tokens}, 1))",
        "punct_ratio": f"(CAST({n_punct} AS DOUBLE) / greatest({n_chars}, 1))",
    }


# =========================================================================
# Cross-document n-gram document frequency (contamination / boilerplate)
# =========================================================================

def ngram_docfreq_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
    max_common_frac: float = 0.5,
) -> DataFrame:
    """Per-document cross-corpus n-gram sharing stats (C4/Gopher-style
    boilerplate & contamination signal).

    A document's distinct k-token shingles are scored against the whole
    corpus: a shingle is *common* when it appears in >= ``min_df``
    documents. Emits ``(id, n_shingles, n_common, common_frac, keep)``
    where ``keep = common_frac <= max_common_frac`` — the filter a
    training pipeline applies to drop template/boilerplate-heavy pages
    whose content is mostly shared with other pages.

    Scale shape (100 TB): shingle sets are map-only native lambdas; the
    document-frequency count is one explode + hash groupBy with map-side
    partial aggregation (the count per shingle hash is tiny — no
    skew-driven row blow-up, a ubiquitous shingle still aggregates to one
    row); the join back to documents is shingle-hash equi-join of
    pre-aggregated counts. No pairwise comparisons anywhere — cost is
    linear in total shingle volume, unlike Jaccard pair verification.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.expr(shingle_hash_set_sql(text_col, k)).alias("shset"),
    )
    exploded = sh.select("id", F.explode("shset").alias("sh"))
    # shset is distinct per doc, so COUNT(*) per shingle == document freq.
    common = (
        exploded.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("sh")
    )
    shared = exploded.join(common, "sh").groupBy("id").agg(
        F.count("*").alias("n_common_raw")
    )
    base = sh.select("id", F.size("shset").alias("n_shingles"))
    return (
        base.join(shared, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_common_raw"), F.lit(0).cast("long")).alias("n_common"),
        )
        .withColumn(
            "common_frac",
            F.col("n_common").cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)),
        )
        .withColumn("keep", F.col("common_frac") <= F.lit(max_common_frac))
    )


def duck_ngram_docfreq_sql(
    k: int = 3, min_df: int = 2, max_common_frac: float = 0.5
) -> str:
    """DuckDB oracle for ngram_docfreq_stats over the documents table."""
    return f"""
WITH sh AS (
  SELECT doc_id, {duck_shingle_hash_set('text', k)} AS shset FROM documents
), ex AS (
  SELECT doc_id, unnest(shset) AS sh FROM sh
), common AS (
  SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) >= {min_df}
), shared AS (
  SELECT ex.doc_id, COUNT(*) AS n_common FROM ex JOIN common USING (sh)
  GROUP BY ex.doc_id
)
SELECT sh.doc_id,
       CAST(len(sh.shset) AS INTEGER) AS n_shingles,
       CAST(COALESCE(shared.n_common, 0) AS BIGINT) AS n_common,
       (CAST(COALESCE(shared.n_common, 0) AS DOUBLE)
        / greatest(len(sh.shset), 1)) AS common_frac,
       (CAST(COALESCE(shared.n_common, 0) AS DOUBLE)
        / greatest(len(sh.shset), 1)) <= {max_common_frac} AS keep
FROM sh LEFT JOIN shared USING (doc_id)
"""


# =========================================================================
# Text cleaning / normalization + PII redaction (training-data hygiene)
# =========================================================================

MIN_KEPT_TOKENS = 5


def clean_text_columns(text_col: str = "text") -> dict[str, Column]:
    """Normalized training text: lowercase tokens with stopwords removed,
    re-joined with single spaces. Pure array lambdas over the existing
    whitespace tokenizer — no regex engine in the path, so Spark and
    DuckDB agree byte-for-byte. Map-only at any scale."""
    kept = (
        f"filter(transform({tokens_sql(text_col)}, t -> lower(t)), "
        f"t -> NOT t IN ({_sql_list(STOPWORDS)}))"
    )
    return {
        "clean_text": F.expr(f"array_join({kept}, ' ')"),
        "n_kept": F.expr(f"size({kept})").cast("int"),
    }


def duck_clean_text_select(text_col: str = "text") -> dict[str, str]:
    kept = (
        f"list_filter(list_transform({duck_tokens(text_col)}, t -> lower(t)), "
        f"t -> NOT t IN ({_sql_list(STOPWORDS)}))"
    )
    return {
        "clean_text": f"array_to_string({kept}, ' ')",
        "n_kept": f"CAST(len({kept}) AS INTEGER)",
    }


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs): literal classes, bounded repetition, \d, \b.
# Order matters: IP before phone (dotted forms), SSN before phone.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def redact_pii_columns(text_col: str = "text") -> dict[str, Column]:
    """Redacted text plus a per-category match count. Counts are taken on
    the PREVIOUS stage's text (each pattern sees the prior redactions, so
    a phone inside an already-redacted email is not double-counted) —
    mirrored exactly in the oracle. Native regexp on the JVM; map-only."""
    cols: dict[str, Column] = {}
    cur = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        cols[f"n_{name}"] = F.size(
            F.regexp_extract_all(cur, F.lit(pat), F.lit(0))
        ).cast("int")
        cur = F.regexp_replace(cur, pat, token)
    cols["redacted"] = cur
    return cols


def duck_redact_pii_select(text_col: str = "text") -> dict[str, str]:
    cols: dict[str, str] = {}
    cur = text_col
    for name, pat, token in PII_PATTERNS:
        cols[f"n_{name}"] = (
            f"CAST(len(regexp_extract_all({cur}, '{pat}', 0)) AS INTEGER)"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{token}', 'g')"
    cols["redacted"] = cur
    return cols


# =========================================================================
# Count-min sketch (token frequencies) as a DataFrame composition
# =========================================================================
# d independent hash rows x w buckets; estimate(t) = min_j counts[j][bucket_j(t)].
# Hashes are affine transforms of the portable polynomial token hash, so
# the whole sketch — including every estimate — is engine-exact. The
# sketch table is d*w rows regardless of corpus size: the point at 100 TB
# is that frequency queries touch a broadcastable summary, not the corpus.
CMS_D = 3
CMS_W = 64
CMS_A = (1_000_003, 1_000_033, 1_000_037)
CMS_B = (12_289, 24_593, 49_157)


def cms_bucket_sql(hash_col: str, j: int) -> str:
    return f"(({CMS_A[j]}L * {hash_col} + {CMS_B[j]}L) % {HASH_P}) % {CMS_W}"


def duck_cms_bucket(hash_col: str, j: int) -> str:
    return (
        f"((CAST({CMS_A[j]} AS BIGINT) * {hash_col} + {CMS_B[j]}) "
        f"% {HASH_P}) % {CMS_W}"
    )


def count_min_token_estimates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, exact_n, cms_est): count-min estimate beside ground truth.

    Build: explode token occurrences once, bucket them under each of the
    d hash rows (map-only), hash-aggregate to the d*w sketch counters —
    one shuffle whose output is ~d*w rows (broadcastable). Probe: each
    distinct token joins its d counters and takes the min. cms_est >=
    exact_n always (overestimate-only error); the oracle checks the
    estimates exactly, the test checks the inequality.
    """
    ex = with_tokens(df, text_col).select(
        F.explode("toks").alias("tok")
    ).withColumn("h", F.expr(char_hash_sql("tok")))
    rows = None
    for j in range(CMS_D):
        r = ex.select(
            F.lit(j).alias("j"), F.expr(cms_bucket_sql("h", j)).alias("bucket")
        )
        rows = r if rows is None else rows.unionByName(r)
    sketch = rows.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))
    probe = ex.groupBy("tok", "h").agg(F.count("*").alias("exact_n"))
    probed = probe.select(
        "tok",
        "exact_n",
        F.posexplode(
            F.array(*[F.expr(cms_bucket_sql("h", j)) for j in range(CMS_D)])
        ).alias("j", "bucket"),
    )
    return (
        probed.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
        .select("tok", "exact_n", "cms_est")
    )


# =========================================================================
# BM25 retrieval scoring (rational idf — portable without libm)
# =========================================================================
#
# Classic BM25 runs idf through ln(), and libm logs are not bit-portable
# across engines. The ranking-equivalent rational form keeps every step
# inside IEEE-exact arithmetic: +, *, / on doubles are correctly rounded,
# so an IDENTICAL expression tree yields identical bits on Spark and
# DuckDB. The helper returns ONE SQL string used verbatim by both engines;
# parenthesization pins the evaluation order.

# Exponent notation: plain decimal literals (0.5, 1.2) parse as DECIMAL in
# BOTH engines, and their decimal->double promotion paths differ by ulps;
# `e0` literals are DOUBLE everywhere, keeping the whole tree IEEE-exact.
BM25_K1 = "1.2e0"
BM25_B = "0.75e0"


def bm25_score_sql(
    tf: str = "tf", df: str = "df", dl: str = "dl",
    avgdl: str = "avgdl", n_docs: str = "n_docs",
) -> str:
    """Per-(doc, term) BM25-style score with rational idf.

    idf_r = (N - df + 0.5) / (df + 0.5); tf-saturation and length
    normalization exactly as BM25 (k1=1.2, b=0.75). Monotone in the
    log-idf variant per term, so top-k ranking behavior matches.
    """
    k1, b = BM25_K1, BM25_B
    idf = f"((({n_docs} - {df}) + 0.5e0) / ({df} + 0.5e0))"
    norm = f"({k1} * ((1.0e0 - {b}) + ({b} * ({dl} / {avgdl}))))"
    sat = f"(({tf} * ({k1} + 1.0e0)) / ({tf} + {norm}))"
    return f"({idf} * {sat})"


AVGDL_SQL = "CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)"


def compression_ratio(documents: DataFrame, level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the Gopher/FineWeb-style
    quality signal (highly repetitive or templated text compresses far
    below natural prose; near-random text barely compresses).

    No Catalyst built-in exposes a compressor over column values, so this
    is one of the few justified Python paths in the engine: an
    Arrow-batched ``mapInPandas`` (never a row-at-a-time UDF) that stays
    map-only and schema-stable — at 100 TB it pipelines with the scan,
    no shuffle. zlib output is deterministic for a fixed level across
    CPython builds (it's the bundled zlib), so the ratios are stable,
    but there is no SQL oracle for a DEFLATE stream — the pytest gate
    compares against direct ``zlib`` calls instead.
    """
    import zlib
    from collections.abc import Iterator as _It

    import pandas as _pd

    def score(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            n_raw, n_comp, ratio = [], [], []
            for text in pdf["text"]:
                raw = text.encode("utf-8")
                comp = zlib.compress(raw, level)
                n_raw.append(len(raw))
                n_comp.append(len(comp))
                ratio.append(len(comp) / len(raw) if raw else 1.0)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_raw,
                    "n_compressed": n_comp,
                    "compression_ratio": ratio,
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        score,
        schema="doc_id long, n_bytes long, n_compressed long, compression_ratio double",
    )

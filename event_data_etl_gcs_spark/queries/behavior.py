"""Behavioral analytics over the event log: ordered funnels, cohort
retention, token co-occurrence lift — the product-analytics surface a
warehouse team would expect beside the TPC-H-style queries.

All three are exact-oracle queries: integer counts, date_trunc buckets,
and ratios of exact integers (no libm transcendentals in checked
output)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import query


@query(
    "funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_signup
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
       CASE WHEN s3.user_id IS NOT NULL THEN 'purchase'
            WHEN s2.user_id IS NOT NULL THEN 'click'
            ELSE 'signup' END AS furthest_stage
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
    doc=(
        "Ordered funnel (signup -> later click -> later purchase): each "
        "stage's earliest qualifying timestamp must be strictly after "
        "the previous stage's. Three filtered min-aggregates plus two "
        "left joins, all keyed on user_id — one partitioning serves "
        "every step; no correlated subquery, no window over raw events."
    ),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_signup",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .otherwise("signup")
            .alias("furthest_stage"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
  FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER)
       AS week_offset,
       COUNT(*) AS n_active_users
FROM active a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
""",
    doc=(
        "Cohort retention matrix: users bucketed by first-seen week, "
        "counted in each later activity week. Two aggregates on user_id "
        "+ one join; week offsets are exact day differences / 7 (both "
        "sides are week-truncated, so the division is exact)."
    ),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    return (
        active.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


@query(
    "token_cooccurrence_lift",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN length(trim(text)) = 0
           THEN CAST([] AS VARCHAR[])
           ELSE string_split_regex(trim(text), '\\s+') END)) AS tok
  FROM documents
), n_docs AS (
  SELECT COUNT(DISTINCT doc_id) AS nd FROM toks
), df AS (
  SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
), pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_xy
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
)
SELECT p.tok_a, p.tok_b, p.n_xy,
       (CAST(p.n_xy AS DOUBLE) * (SELECT nd FROM n_docs))
       / (da.n * db.n) AS lift
FROM pairs p
JOIN df da ON p.tok_a = da.tok
JOIN df db ON p.tok_b = db.tok
WHERE p.n_xy >= 5
""",
    doc=(
        "Token co-occurrence lift (PMI without the log — the ratio "
        "P(x,y)/(P(x)P(y)) from exact integer counts, so it stays "
        "engine-portable): per-doc distinct-token pair explode bounded "
        "by doc length, hash aggregate, two broadcast joins against the "
        "token document-frequency table."
    ),
)
def token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens_sql

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(tokens_sql("text")))).alias("tok"),
    )
    # scalar corpus size as a broadcast single-row frame — no driver-side
    # action in the query path
    nd = toks.agg(F.count_distinct("doc_id").alias("nd"))
    df_tok = toks.groupBy("tok").agg(F.count("*").alias("n"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= 5)
    )
    da = F.broadcast(df_tok.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a")))
    db = F.broadcast(df_tok.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(da, "tok_a")
        .join(db, "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_xy",
            (
                F.col("n_xy").cast("double") * F.col("nd")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


@query(
    "event_transition_matrix",
    oracle=(
        "WITH o AS (SELECT user_id, event_type, lag(event_type) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), "
        "c AS (SELECT prev, event_type AS next, count(*) AS n FROM o "
        "WHERE prev IS NOT NULL GROUP BY prev, next), "
        "t AS (SELECT prev, sum(n) AS row_total FROM c GROUP BY prev) "
        "SELECT c.prev, c.next, CAST(c.n AS BIGINT) AS n, "
        "CAST(t.row_total AS BIGINT) AS row_total, "
        "CAST(c.n AS DOUBLE) / t.row_total AS p "
        "FROM c JOIN t ON c.prev = t.prev"
    ),
    doc=(
        "First-order Markov transition matrix of event types: lag over "
        "the per-user total order (ts, event_id), pair counts, and "
        "row-normalized probabilities (exact integers, one portable "
        "division). One window partitioned by user (bounded per-user "
        "history) + one pair-count shuffle; the matrix itself is "
        "|types|^2-sized."
    ),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    c = o.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").cast("long").alias("n")
    )
    t = c.groupBy("prev").agg(F.sum("n").cast("long").alias("row_total"))
    return c.join(t, "prev").select(
        "prev",
        "next",
        "n",
        "row_total",
        (F.col("n").cast("double") / F.col("row_total")).alias("p"),
    )


@query(
    "frequent_event_sequences",
    oracle=(
        "WITH o AS (SELECT event_type, "
        "lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2, "
        "lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1 "
        "FROM events) "
        "SELECT p2 AS step1, p1 AS step2, event_type AS step3, "
        "CAST(count(*) AS BIGINT) AS n FROM o WHERE p2 IS NOT NULL "
        "GROUP BY step1, step2, step3 "
        "ORDER BY n DESC, step1, step2, step3 LIMIT 25"
    ),
    doc=(
        "Top-25 most frequent 3-step event-type sequences (sequential "
        "pattern mining, contiguous variant): two lags over the per-user "
        "total order, one count shuffle, distributed top-k with a total "
        "tie-break order. Exact integers throughout."
    ),
)
def frequent_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    ).filter(F.col("step1").isNotNull())
    return (
        o.groupBy("step1", "step2", "step3")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(25)
    )


_CUSUM_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


@query(
    "cusum_changepoint",
    oracle=(
        f"WITH c AS (SELECT event_type, {_CUSUM_CENTS} AS v, event_id, ts "
        "FROM events), "
        "r AS (SELECT event_type, "
        "row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn, "
        "CAST(sum(CAST(v AS DECIMAL(38,0))) OVER (PARTITION BY event_type "
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum, "
        "CAST(sum(CAST(v AS DECIMAL(38,0))) OVER (PARTITION BY event_type) "
        "AS DECIMAL(38,0)) AS total, "
        "count(*) OVER (PARTITION BY event_type) AS n FROM c), "
        "s AS (SELECT event_type, rn, n, "
        "abs(CAST(n AS DECIMAL(38,0)) * cum - CAST(rn AS DECIMAL(38,0)) * total) "
        "AS stat FROM r) "
        "SELECT event_type, CAST(n AS BIGINT) AS n, "
        "CAST(rn AS BIGINT) AS cp_index, "
        "CAST(stat AS DOUBLE) / n / n AS cusum_stat_norm FROM s "
        "QUALIFY row_number() OVER (PARTITION BY event_type "
        "ORDER BY stat DESC, rn) = 1"
    ),
    doc=(
        "CUSUM changepoint per event type, INTEGER-EXACT: the classic "
        "statistic max_i |S_i - (i/n) * S_n| is scaled by n so every "
        "compare runs on exact decimals (n*cum_i - i*total, cents "
        "grid) — no float accumulation anywhere; only the reported "
        "normalized statistic divides at the end (deterministic: "
        "bigint->double casts are correctly rounded). One running-sum "
        "window per type partition, argmax by (stat, index) total order."
    ),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    big = "decimal(38,0)"
    c = ev.select(
        "event_type",
        F.expr(_CUSUM_CENTS).alias("v"),
        "event_id",
        "ts",
        # distributed prefix sums: range-bucket event time (1-day
        # buckets) so rank and cumsum windows run WITHIN (type, bucket)
        # — task size bounded by a day of one type, not the type's whole
        # history (the naive per-type window ran 27x slower at 100x on
        # 5 partitions). Offsets add back via a per-(type, bucket)
        # window over one row per bucket. Same trick as
        # operators/skew.bucketed_running_sum.
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("__b"),
    )
    wb = (
        Window.partitionBy("event_type", "__b")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = c.select(
        "event_type",
        "__b",
        F.count("*").over(wb).alias("l_rn"),
        F.sum(F.col("v").cast(big)).over(wb).cast(big).alias("l_cum"),
        "ts",
        "event_id",
    )
    btot = c.groupBy("event_type", "__b").agg(
        F.count("*").alias("b_n"),
        F.sum(F.col("v").cast(big)).cast(big).alias("b_s"),
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = btot.select(
        "event_type",
        "__b",
        F.coalesce(F.sum("b_n").over(wo), F.lit(0)).alias("rn_off"),
        F.coalesce(
            F.sum("b_s").over(wo).cast(big), F.lit(0).cast(big)
        ).alias("cum_off"),
    )
    tot = btot.groupBy("event_type").agg(
        F.sum("b_n").cast("long").alias("n"),
        F.sum("b_s").cast(big).alias("total"),
    )
    r = (
        local.join(off, ["event_type", "__b"])
        .join(tot, "event_type")
        .select(
            "event_type",
            "n",
            (F.col("l_rn") + F.col("rn_off")).cast("long").alias("rn"),
            (F.col("l_cum") + F.col("cum_off")).cast(big).alias("cum"),
            "total",
        )
    )
    s = r.select(
        "event_type",
        "n",
        "rn",
        F.abs(
            F.col("n").cast(big) * F.col("cum")
            - F.col("rn").cast(big) * F.col("total")
        ).alias("stat"),
    )
    # argmax by (stat desc, rn asc) as a two-phase MAX-of-struct
    # aggregate (no window): max picks largest stat, then largest -rn
    # = smallest rn.
    best = s.groupBy("event_type", "n").agg(
        F.max(F.struct(F.col("stat"), (-F.col("rn")).alias("neg_rn"))).alias(
            "b"
        )
    )
    return best.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (-F.col("b.neg_rn")).cast("long").alias("cp_index"),
        (F.col("b.stat").cast("double") / F.col("n") / F.col("n")).alias(
            "cusum_stat_norm"
        ),
    )


@query(
    "linear_attribution",
    oracle=(
        "WITH clicks AS (SELECT user_id, event_id AS click_id, ts AS c_ts "
        "FROM events WHERE event_type = 'click'), "
        "purch AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts, "
        f"{_CUSUM_CENTS} AS v FROM events WHERE event_type = 'purchase'), "
        "touch AS (SELECT p.purchase_id, p.v, c.click_id "
        "FROM purch p JOIN clicks c ON p.user_id = c.user_id "
        "AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR), "
        "n AS (SELECT purchase_id, count(*) AS n_touches FROM touch "
        "GROUP BY purchase_id) "
        "SELECT t.purchase_id, t.click_id, "
        "CAST(n.n_touches AS BIGINT) AS n_touches, "
        "t.v AS purchase_cents, "
        "CAST(t.v AS DOUBLE) / n.n_touches AS credit_cents "
        "FROM touch t JOIN n ON t.purchase_id = n.purchase_id"
    ),
    doc=(
        "Multi-touch LINEAR attribution: each purchase's value splits "
        "equally across the user's clicks in the preceding hour. Credit "
        "stays a ROW-LEVEL single division of exact integers (emitting "
        "per-touch rows, never a cross-row float sum), so the full "
        "credit ledger is oracle-exact; downstream rollups should sum "
        "the integer numerators and divide once. Time-bounded equi-join "
        "on user_id."
    ),
)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.expr(_CUSUM_CENTS).alias("v"),
    )
    touch = purch.join(
        clicks,
        (purch["user_id"] == clicks["user_id"])
        & (clicks["c_ts"] <= purch["p_ts"])
        & (clicks["c_ts"] >= purch["p_ts"] - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "v", "click_id")
    n = touch.groupBy("purchase_id").agg(
        F.count("*").cast("long").alias("n_touches")
    )
    return touch.join(n, "purchase_id").select(
        "purchase_id",
        "click_id",
        "n_touches",
        F.col("v").alias("purchase_cents"),
        (F.col("v").cast("double") / F.col("n_touches")).alias("credit_cents"),
    )


@query(
    "new_vs_returning_users",
    oracle=(
        "WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day "
        "FROM events GROUP BY user_id), "
        "d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) "
        "SELECT d.day, "
        "CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_new, "
        "CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_returning "
        "FROM d JOIN f ON d.user_id = f.user_id GROUP BY d.day"
    ),
    doc=(
        "Daily new-vs-returning active users: first-seen date per user "
        "(user-dimension aggregate, broadcastable) classifies each "
        "active (user, day). Two two-phase aggregates + one dimension "
        "join; exact integers."
    ),
)
def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    return (
        d.join(F.broadcast(f), "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returning"),
        )
    )


@query(
    "revenue_concentration",
    oracle=(
        f"WITH pu AS (SELECT user_id, sum({_CUSUM_CENTS}) AS v FROM events "
        "WHERE event_type = 'purchase' GROUP BY user_id), "
        "r AS (SELECT v, row_number() OVER (ORDER BY v DESC, user_id) AS i, "
        "count(*) OVER () AS nu, sum(v) OVER () AS total FROM pu) "
        "SELECT CAST(max(nu) AS BIGINT) AS n_buyers, "
        "CAST(max(total) AS BIGINT) AS total_cents, "
        "CAST(sum(CASE WHEN i <= (nu + 9) // 10 THEN v ELSE 0 END) AS BIGINT) "
        "AS top_decile_cents, "
        "CAST(sum(CASE WHEN i <= (nu + 9) // 10 THEN v ELSE 0 END) AS DOUBLE) "
        "/ max(total) AS top_decile_share "
        "FROM r"
    ),
    doc=(
        "Revenue concentration: the top-10%-of-buyers share of purchase "
        "value — ceil(n/10) by integer rank over the buyer DIMENSION "
        "(ties broken by user_id), exact integer sums, one final "
        "division. The KPI behind whale-risk and the pareto/gini "
        "diagnostics."
    ),
)
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.expr(_CUSUM_CENTS)).alias("v"))
    )
    w = Window.orderBy(F.col("v").desc(), "user_id")
    wall = Window.partitionBy()
    r = pu.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("nu"),
        F.sum("v").over(wall).alias("total"),
    )
    top = F.sum(
        F.expr("CASE WHEN i <= (nu + 9) div 10 THEN v ELSE 0 END")
    )
    return r.agg(
        F.max("nu").cast("long").alias("n_buyers"),
        F.max("total").cast("long").alias("total_cents"),
        top.cast("long").alias("top_decile_cents"),
        (top.cast("double") / F.max("total")).alias("top_decile_share"),
    )

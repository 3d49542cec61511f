"""Event-time windowing queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import sql_exact_sum
from ..sources.catalog import load_table
from .registry import query


@query(
    "tumbling_window_counts",
    oracle=(
        "SELECT date_trunc('day', ts) AS window_start, event_type, "
        "COUNT(*) AS n, "
        f"{sql_exact_sum('value')} AS total_value "
        "FROM events GROUP BY date_trunc('day', ts), event_type"
    ),
    doc=(
        "Tumbling event-time window aggregation (F.window); one shuffle "
        "on (window, type)."
    ),
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@query(
    "sliding_window_counts",
    oracle=(
        "WITH slides AS (SELECT unnest(["
        "date_trunc('hour', ts), "
        "date_trunc('hour', ts) - INTERVAL 1 HOUR, "
        "date_trunc('hour', ts) - INTERVAL 2 HOUR, "
        "date_trunc('hour', ts) - INTERVAL 3 HOUR]) AS window_start, event_id "
        "FROM events) "
        "SELECT window_start, COUNT(*) AS n FROM slides GROUP BY window_start"
    ),
    doc=(
        "Sliding event-time window (4h length, 1h slide): each event lands "
        "in 4 windows. Spark's F.window(slideDuration) vs an explicit "
        "unnest replication in the oracle."
    ),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "4 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@query(
    "session_window_counts",
    oracle=(
        "WITH flagged AS ("
        "  SELECT user_id, ts, "
        "  CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER "
        "    (PARTITION BY user_id ORDER BY ts)) > 1800000 "
        "    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
        "  THEN 1 ELSE 0 END AS is_start FROM events"
        "), sess AS ("
        "  SELECT user_id, ts, SUM(is_start) OVER (PARTITION BY user_id "
        "    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM flagged"
        ") SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events "
        "FROM sess GROUP BY user_id, sid"
    ),
    doc=(
        "Native session_window (30-min gap) aggregation — Spark's built-in "
        "session windows vs the lag/running-sum formulation in the oracle. "
        "(events have unique ts per user at this scale, so both agree.)"
    ),
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .select("user_id", "session_start", "n_events")
    )


@query(
    "token_count_regex",
    oracle=(
        "SELECT doc_id, "
        "CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)"
        " AS n_bpe_tokens "
        "FROM documents"
    ),
    doc=(
        "BPE-ish regex token counting (word pieces + standalone "
        "punctuation) complementing the whitespace tokenizer."
    ),
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]', 0)")
        )
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@query(
    "ewma_per_user",
    oracle=(
        "WITH ordered AS ("
        "  SELECT user_id, COUNT(*) AS n_events, "
        "  list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals "
        "  FROM events GROUP BY user_id"
        ") "
        "SELECT user_id, n_events, "
        "list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma_value "
        "FROM ordered"
    ),
    doc=(
        "Exponentially-weighted moving average of each user's value "
        "stream (alpha = 0.3, seeded with the first observation) — the "
        "classic time-decayed feature. EWMA is inherently sequential per "
        "key, so the fold is ORDER-PINNED (sort_array + aggregate == "
        "DuckDB list(ORDER BY) + list_reduce, the label_centroids "
        "pattern): identical double arithmetic in both engines. One "
        "shuffle on user_id; state per key is one double, the list is "
        "per-group transient."
    ),
)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grouped = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sort_array(
            F.collect_list(
                F.struct("ts", "event_id", F.col("value").cast("double").alias("v"))
            )
        ).alias("pairs"),
    )
    return grouped.select(
        "user_id",
        "n_events",
        F.expr(
            "aggregate(slice(pairs, 2, size(pairs) - 1), "
            "element_at(pairs, 1).v, "
            "(acc, x) -> CAST(0.3 AS DOUBLE) * x.v + CAST(0.7 AS DOUBLE) * acc)"
        ).alias("ewma_value"),
    )


@query(
    "rolling_zscore_anomaly",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY event_type, day
), stats AS (
  SELECT event_type, day, n,
         CAST(SUM(n) OVER w AS BIGINT) AS s1,
         CAST(SUM(n * n) OVER w AS BIGINT) AS s2,
         greatest(CAST(COUNT(*) OVER w AS BIGINT), 1) AS cnt,
         CAST(COUNT(*) OVER w AS BIGINT) AS raw_cnt
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT event_type, day, n, raw_cnt,
         (CAST(s2 AS DOUBLE) / cnt
          - (CAST(s1 AS DOUBLE) / cnt) * (CAST(s1 AS DOUBLE) / cnt)) AS var,
         (n - CAST(s1 AS DOUBLE) / cnt) AS dev
  FROM stats
)
SELECT event_type, day, n,
       CASE WHEN raw_cnt = 7 AND var > 0 THEN dev / sqrt(var) END AS z,
       COALESCE(CASE WHEN raw_cnt = 7 AND var > 0
                     THEN abs(dev / sqrt(var)) > 2.0 END, FALSE) AS is_anomaly
FROM scored
""",
    doc=(
        "Rolling z-score anomaly detection on daily per-type event "
        "counts: trailing 7-day mean/std from exact integer moment sums "
        "(population variance via s1/s2 — every double op is a division "
        "of exact integers, so both engines agree bit-for-bit), flag "
        "|z| > 2 with a full trailing window. One exchange on "
        "event_type serves the daily aggregate and the window."
    ),
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.greatest(F.count("*").over(w), F.lit(1)).alias("cnt"),
        F.count("*").over(w).alias("raw_cnt"),
    )
    mean = F.col("s1").cast("double") / F.col("cnt")
    scored = stats.select(
        "event_type",
        "day",
        "n",
        "raw_cnt",
        (F.col("s2").cast("double") / F.col("cnt") - mean * mean).alias("var"),
        (F.col("n") - mean).alias("dev"),
    )
    ok = (F.col("raw_cnt") == 7) & (F.col("var") > 0)
    z = F.col("dev") / F.sqrt("var")
    return scored.select(
        "event_type",
        "day",
        "n",
        F.when(ok, z).alias("z"),
        F.coalesce(F.when(ok, F.abs(z) > 2.0), F.lit(False)).alias("is_anomaly"),
    )


_ALLOC_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"


@query(
    "interval_day_allocation",
    oracle=(
        "WITH iv AS (SELECT event_id, CAST(ts AS DATE) AS d0, "
        "epoch_us(ts) AS s, epoch_us(ts + INTERVAL 90 MINUTE) AS e, "
        f"{_ALLOC_CENTS} AS v FROM events), "
        "days AS (SELECT event_id, s, e, v, unnest(range(0, "
        "date_diff('day', d0, CAST(make_timestamp(e) AS DATE)) + 1)) AS k, "
        "d0 FROM iv), "
        "w AS (SELECT event_id, d0 + CAST(k AS INTEGER) AS day, v, e - s AS total_us, "
        "least(e, epoch_us(CAST(d0 + CAST(k AS INTEGER) + 1 AS TIMESTAMP))) - "
        "greatest(s, epoch_us(CAST(d0 + CAST(k AS INTEGER) AS TIMESTAMP))) AS part_us "
        "FROM days) "
        "SELECT day, CAST(count(*) AS BIGINT) AS n_intervals, "
        "CAST(CAST(sum(CAST(v AS DECIMAL(38,0)) * part_us) AS DECIMAL(38,0)) "
        "% 1000000007 AS BIGINT) AS weighted_check, "
        "CAST(sum(part_us) AS BIGINT) AS covered_us "
        "FROM w WHERE part_us > 0 GROUP BY day"
    ),
    doc=(
        "Metering/billing allocation: each event's 90-minute usage "
        "interval splits across the calendar days it covers, "
        "proportionally by overlap. To keep the oracle EXACT the "
        "per-day weight is kept as the integer product value_cents * "
        "overlap_micros (mod-reduced exact decimal sum) rather than a "
        "float proration — the downstream rate multiply is where the "
        "single division belongs. Map-side day explosion (bounded by "
        "interval length), one groupBy."
    ),
)
def interval_day_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        F.col("ts").cast("date").alias("d0"),
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("e"),
        F.expr(_ALLOC_CENTS).alias("v"),
    )
    days = iv.select(
        "event_id",
        "s",
        "e",
        "v",
        "d0",
        F.explode(
            F.sequence(
                F.lit(0),
                F.datediff(F.timestamp_micros("e").cast("date"), F.col("d0")),
            )
        ).alias("k"),
    )
    day = F.date_add(F.col("d0"), F.col("k"))
    day_start = F.unix_micros(day.cast("timestamp"))
    day_end = F.unix_micros(F.date_add(F.col("d0"), F.col("k") + 1).cast("timestamp"))
    w = days.select(
        "event_id",
        day.alias("day"),
        "v",
        (F.col("e") - F.col("s")).alias("total_us"),
        (
            F.least(F.col("e"), day_end) - F.greatest(F.col("s"), day_start)
        ).alias("part_us"),
    )
    big = "decimal(38,0)"
    return (
        w.filter(F.col("part_us") > 0)
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            (
                F.sum(F.col("v").cast(big) * F.col("part_us")).cast(big)
                % F.lit(1000000007).cast(big)
            ).cast("long").alias("weighted_check"),
            F.sum("part_us").cast("long").alias("covered_us"),
        )
    )


@query(
    "trailing_wau",
    oracle=(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
        "FROM events), "
        "cov AS (SELECT user_id, day + CAST(k AS INTEGER) AS wday "
        "FROM ud, unnest(range(0, 7)) AS r(k)), "
        "days AS (SELECT DISTINCT CAST(ts AS DATE) AS wday FROM events) "
        "SELECT c.wday AS day, "
        "CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau "
        "FROM cov c JOIN days d ON c.wday = d.wday GROUP BY c.wday"
    ),
    doc=(
        "Trailing 7-day active users per day — DISTINCT over a sliding "
        "window, the aggregation windows can't express: each active "
        "(user, day) explodes to the 7 future days it keeps the user "
        "active for (map-side, bounded x7), then one count-distinct per "
        "day; restricted to days that exist in the data. At 100 TB the "
        "explode factor is the window length — linear, no per-day "
        "rescans of history."
    ),
)
def trailing_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    cov = ud.select(
        "user_id",
        F.explode(F.expr("sequence(0, 6)")).alias("k"),
        "day",
    ).select("user_id", F.expr("date_add(day, k)").alias("wday"))
    days = ev.select(F.col("ts").cast("date").alias("wday")).distinct()
    return (
        cov.join(days, "wday")
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


@query(
    "stickiness_dau_mau",
    oracle=(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day "
        "FROM events), "
        "dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud "
        "GROUP BY day), "
        "cov AS (SELECT user_id, day + CAST(k AS INTEGER) AS wday "
        "FROM ud, unnest(range(0, 28)) AS r(k)), "
        "mau AS (SELECT wday AS day, count(DISTINCT user_id) AS mau "
        "FROM cov GROUP BY wday) "
        "SELECT d.day, CAST(d.dau AS BIGINT) AS dau, "
        "CAST(m.mau AS BIGINT) AS mau28, "
        "CAST(d.dau AS DOUBLE) / m.mau AS stickiness "
        "FROM dau d JOIN mau m ON d.day = m.day"
    ),
    doc=(
        "Stickiness (DAU / trailing-28-day MAU) per day: both counts "
        "via the explode-to-covering-days form (x28 bounded map-side "
        "fan-out for the MAU — no per-day history rescans), joined on "
        "days that exist in the data; one portable division."
    ),
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    dau = ud.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    cov = ud.select(
        "user_id", F.explode(F.expr("sequence(0, 27)")).alias("k"), "day"
    ).select("user_id", F.expr("date_add(day, k)").alias("day"))
    mau = cov.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("mau28")
    )
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau28",
        (F.col("dau").cast("double") / F.col("mau28")).alias("stickiness"),
    )

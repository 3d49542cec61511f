"""Property-based tests (hypothesis): operator semantics on random
inputs, checked against independent Python models. Complements the
fixed-data oracle gate with adversarial small cases (ties, empty groups,
nulls, boundary timestamps)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.relational import argmax_latest
from event_data_etl_gcs_spark.operators.temporal_joins import asof_join
from event_data_etl_gcs_spark.operators.upsert import merge_upsert

from .conftest import SF_SMOKE

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=5),  # ts (small -> ties likely)
        st.integers(min_value=0, max_value=100),  # payload
    ),
    min_size=0,
    max_size=25,
)


@given(data=rows)
@SETTINGS
def test_argmax_latest_keeps_all_ties(spark, data):
    df = spark.createDataFrame(data or [(0, 0, 0)], "k int, ts int, v int")
    if not data:
        df = df.limit(0)
    got = {(r.k, r.ts, r.v) for r in argmax_latest(df, ["k"], "ts").collect()}
    by_key: dict[int, int] = {}
    for k, ts, _ in data:
        by_key[k] = max(by_key.get(k, ts), ts)
    want = {(k, ts, v) for (k, ts, v) in data if ts == by_key[k]}
    assert got == want


@given(data=rows)
@SETTINGS
def test_merge_upsert_model(spark, data):
    half = len(data) // 2
    target_rows = [(k, ts, v) for (k, ts, v) in data[:half]]
    update_rows = [(k, ts, v) for (k, ts, v) in data[half:]]
    # key-unique both sides (upsert contract)
    target = {k: (k, ts, v) for (k, ts, v) in target_rows}
    updates = {k: (k, ts, v) for (k, ts, v) in update_rows}
    t_df = spark.createDataFrame(list(target.values()) or [(0, 0, 0)], "k int, ts int, v int")
    u_df = spark.createDataFrame(list(updates.values()) or [(0, 0, 0)], "k int, ts int, v int")
    if not target:
        t_df = t_df.limit(0)
    if not updates:
        u_df = u_df.limit(0)
    got = {r.k: (r.k, r.ts, r.v) for r in merge_upsert(t_df, u_df, ["k"]).collect()}
    want = {**target, **updates}
    assert got == want


asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10)), min_size=1, max_size=15
)


@given(left=asof_rows, right=asof_rows)
@SETTINGS
def test_asof_join_model(spark, left, right):
    # unique right (key, ts) -> deterministic contract
    rmap = {(k, ts): (k, ts, k * 100 + ts) for (k, ts) in right}
    l_df = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left)], "lid int, k int, ts int"
    )
    r_df = spark.createDataFrame(list(rmap.values()), "k int, ts int, rv int")
    got = {
        r.lid: r.rv
        for r in asof_join(
            l_df, r_df, on="k", left_ts="ts", right_ts="ts", right_values=["rv"]
        ).collect()
    }
    for i, (k, ts) in enumerate(left):
        prior = [rv for (rk, rts, rv) in rmap.values() if rk == k and rts <= ts]
        want = max(
            prior,
            key=lambda rv: [rts for (rk, rts, v) in rmap.values() if v == rv][0],
            default=None,
        )
        assert got[i] == want, (i, k, ts, got[i], want)


bucket_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # key
        st.integers(min_value=0, max_value=500),  # ts seconds (ties likely)
        st.integers(min_value=-50, max_value=50), # value
    ),
    min_size=1,
    max_size=30,
)


@given(data=bucket_rows, width_s=st.sampled_from([1, 7, 60, 400]))
@SETTINGS
def test_bucketed_running_sum_any_width(spark, data, width_s):
    """Distributed prefix-sum == plain prefix-sum for ANY bucket width,
    including widths that put every row in its own bucket and widths
    that collapse everything into one (checked against a Python model,
    not the Spark window)."""
    from event_data_etl_gcs_spark.operators.skew import bucketed_running_sum

    df = spark.createDataFrame(
        [(k, ts * 1_000_000, float(v), i) for i, (k, ts, v) in enumerate(data)],
        "k long, ts long, v double, rid long",
    )
    got = {
        r.rid: r.rs
        for r in bucketed_running_sum(
            df, key="k", order_col="ts", value_col="v",
            bucket_width_micros=width_s * 1_000_000,
            tiebreak="rid", out_col="rs",
        ).collect()
    }
    acc: dict[int, float] = {}
    want: dict[int, float] = {}
    for i, (k, ts, v) in sorted(
        enumerate(data), key=lambda e: (e[1][0], e[1][1], e[0])
    ):
        acc[k] = acc.get(k, 0.0) + v
        want[i] = acc[k]
    assert got == want


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=40),  # start
        st.integers(min_value=0, max_value=10),  # length
    ),
    min_size=0,
    max_size=12,
)


@given(left=intervals, right=intervals, width=st.integers(min_value=1, max_value=13))
@SETTINGS
def test_interval_overlap_join_matches_naive_model(spark, left, right, width):
    """Slab-bucketed interval join == the naive quadratic model, for any
    slab width (including widths smaller/larger than every interval —
    the dedup-across-slabs and multi-slab-explosion paths)."""
    from event_data_etl_gcs_spark.operators.temporal_joins import (
        interval_overlap_join,
    )

    ldata = [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(left)]
    rdata = [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(right)]
    ldf = spark.createDataFrame(
        ldata or [(0, 0, 0, 0)], "k int, lid int, l_start long, l_end long"
    )
    rdf = spark.createDataFrame(
        rdata or [(0, 0, 0, 0)], "k int, rid int, r_start long, r_end long"
    )
    if not ldata:
        ldf = ldf.limit(0)
    if not rdata:
        rdf = rdf.limit(0)
    got = {
        (r.k, r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, rdf, keys=["k"], bucket_width=width
        ).collect()
    }
    want = {
        (lk, lid, rid)
        for (lk, lid, ls, le) in ldata
        for (rk, rid, rs, re) in rdata
        if lk == rk and ls <= re and rs <= le
    }
    assert got == want


lake_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # day (partition)
        st.integers(min_value=0, max_value=2),  # category
        st.integers(min_value=0, max_value=50),  # value
    ),
    min_size=1,
    max_size=20,
)


@given(data=lake_rows, target_day=st.integers(min_value=1, max_value=4),
       target_cat=st.integers(min_value=0, max_value=2))
@SETTINGS
def test_delete_where_matches_filter_model(spark, tmp_path_factory, data, target_day, target_cat):
    """delete_where == plain filter on random partitioned tables,
    including all-rows-deleted partitions and no-match predicates."""
    from event_data_etl_gcs_spark.sources.parquet_sink import delete_where

    d = str(tmp_path_factory.mktemp("lake"))
    df = spark.createDataFrame(data, "day int, cat int, v int")
    df.write.mode("overwrite").partitionBy("day").parquet(d)
    pred = f"day = {target_day} AND cat = {target_cat}"
    deleted = delete_where(spark, d, pred, "day")
    want = [(dy, c, v) for (dy, c, v) in data if not (dy == target_day and c == target_cat)]
    assert deleted == len(data) - len(want)
    if not want:
        # table fully emptied: every partition directory is gone, and a
        # parquet dir with no files is unreadable by contract
        import glob as _glob

        assert not _glob.glob(f"{d}/day=*/*.parquet")
        return
    got = sorted(
        (r.day, r.cat, r.v) for r in spark.read.parquet(d).collect()
    )
    assert got == sorted(want)


@given(data=lake_rows, target_day=st.integers(min_value=1, max_value=4))
@SETTINGS
def test_update_where_matches_map_model(spark, tmp_path_factory, data, target_day):
    """update_where == a per-row conditional map on random partitioned
    tables (cardinality preserved, non-matching rows verbatim)."""
    from event_data_etl_gcs_spark.sources.parquet_sink import update_where

    d = str(tmp_path_factory.mktemp("lake_u"))
    df = spark.createDataFrame(data, "day int, cat int, v int")
    df.write.mode("overwrite").partitionBy("day").parquet(d)
    pred = f"day = {target_day} AND cat = 1"
    updated = update_where(spark, d, pred, {"v": "v + 1000"}, "day")
    want = sorted(
        (dy, c, v + 1000 if (dy == target_day and c == 1) else v)
        for (dy, c, v) in data
    )
    assert updated == sum(1 for (dy, c, _) in data if dy == target_day and c == 1)
    got = sorted((r.day, r.cat, r.v) for r in spark.read.parquet(d).collect())
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=-500, max_value=500),  # cents
        ),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_winsorized_bounds_are_order_statistics(spark, data):
    """The 1%/99% clip bounds must equal the exact order statistics the
    integer-rank formula picks on a python model."""
    import math

    from event_data_etl_gcs_spark.queries.features import winsorized_stats

    # route through a temp view shaped like events (value = cents/100)
    rows = [(i, g, v / 100.0) for i, (g, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    df = df.withColumn("event_type", F.concat(F.lit("t"), F.col("event_type")))
    import event_data_etl_gcs_spark.queries.features as feats
    import event_data_etl_gcs_spark.sources.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda spark_, sf_, name_: df
        feats.load_table = cat.load_table
        got = {r["event_type"]: r for r in winsorized_stats(spark, "x").collect()}
    finally:
        cat.load_table = orig
        feats.load_table = orig

    from collections import defaultdict

    groups = defaultdict(list)
    for i, (g, v) in enumerate(data):
        groups[f"t{g}"].append(v)
    for gname, vals in groups.items():
        vals.sort()
        n = len(vals)
        lo = vals[math.ceil(n / 100) - 1] if n else None
        hi = vals[math.ceil(99 * n / 100) - 1]
        r = got[gname]
        assert r["lo_cents"] == lo and r["hi_cents"] == hi
        clipped = [min(max(v, lo), hi) for v in vals]
        assert r["winsorized_sum_cents"] == sum(clipped)


@given(
    seq=st.lists(st.integers(min_value=-100, max_value=100), min_size=2, max_size=30)
)
@SETTINGS
def test_cusum_changepoint_matches_numpy(spark, seq):
    import numpy as np

    from event_data_etl_gcs_spark.queries.behavior import cusum_changepoint
    import event_data_etl_gcs_spark.queries.behavior as beh

    rows = [
        (i, "t", v / 100.0, i * 1000) for i, v in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, off long"
    ).withColumn("ts", F.timestamp_micros(F.col("off"))).drop("off")

    orig = beh.load_table
    try:
        beh.load_table = lambda spark_, sf_, name_: df
        r = cusum_changepoint(spark, "x").collect()[0]
    finally:
        beh.load_table = orig

    v = np.array(seq, dtype=np.int64)
    n = len(v)
    cum = np.cumsum(v)
    stat = np.abs(n * cum - (np.arange(1, n + 1)) * cum[-1])
    best = int(np.argmax(stat))  # first index of the max (ties -> smallest rn)
    assert r["cp_index"] == best + 1
    assert r["n"] == n


@given(
    data=st.lists(
        st.integers(min_value=-30, max_value=30), min_size=1, max_size=35
    )
)
@SETTINGS
def test_equi_depth_matches_ntile_model(spark, data):
    """The distribution-form decile histogram must equal a python ntile
    model (same first-buckets-larger sizing) on random small inputs —
    including n < 10 and heavy ties."""
    import event_data_etl_gcs_spark.queries.features as feats
    from event_data_etl_gcs_spark.queries.features import equi_depth_buckets

    rows = [(i, "t", v / 100.0) for i, v in enumerate(data)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")

    orig = feats.load_table
    try:
        feats.load_table = lambda s_, d_, n_: df
        got = {
            r["bucket"]: (r["n_rows"], r["lo_cents"], r["hi_cents"])
            for r in equi_depth_buckets(spark, "x").collect()
        }
    finally:
        feats.load_table = orig

    vals = sorted(data)
    n = len(vals)
    want = {}
    sizes = [n // 10 + (1 if i <= n % 10 else 0) for i in range(1, 11)]
    pos = 0
    for i, size in enumerate(sizes, start=1):
        if size == 0:
            continue
        chunk = vals[pos : pos + size]
        want[i] = (size, chunk[0], chunk[-1])
        pos += size
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # frequency
            st.integers(min_value=0, max_value=50),  # monetary
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_pareto_front_matches_dominance_model(spark, data):
    """The running-max skyline must equal the quadratic true-dominance
    model (duplicate points collapse to their min-id representative)."""
    from pyspark.sql import Window

    rows = [(uid, f, m) for uid, (f, m) in enumerate(data)]
    pu = spark.createDataFrame(rows, "user_id long, frequency long, monetary_cents long")
    w = (
        Window.orderBy(
            F.col("frequency").desc(), F.col("monetary_cents").desc(), "user_id"
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    got = {
        r["user_id"]
        for r in pu.withColumn("best_m", F.max("monetary_cents").over(w))
        .filter(F.col("best_m").isNull() | (F.col("monetary_cents") > F.col("best_m")))
        .collect()
    }
    want = set()
    for uid, (f, m) in enumerate(data):
        dominated = any(
            # true Pareto dominance ...
            (f2 >= f and m2 >= m and (f2 > f or m2 > m))
            # ... or an identical point with a smaller id (duplicate
            # points collapse to their representative)
            or (f2 == f and m2 == m and uid2 < uid)
            for uid2, (f2, m2) in enumerate(data)
            if uid2 != uid
        )
        if not dominated:
            want.add(uid)
    assert got == want


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # user
            st.integers(min_value=0, max_value=20),  # day offset
        ),
        min_size=1,
        max_size=30,
    )
)
@SETTINGS
def test_trailing_wau_matches_python_model(spark, data):
    """Explode-to-covering-days trailing-7d distinct == brute-force
    per-day set union on random activity patterns."""
    import datetime

    import event_data_etl_gcs_spark.queries.timeseries as tsm
    from event_data_etl_gcs_spark.queries.timeseries import trailing_wau

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, u, base + datetime.timedelta(days=d, hours=1))
        for i, (u, d) in enumerate(data)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")

    orig = tsm.load_table
    try:
        tsm.load_table = lambda s_, d_, n_: df
        got = {r["day"]: r["wau"] for r in trailing_wau(spark, "x").collect()}
    finally:
        tsm.load_table = orig

    active = {}
    for u, d in data:
        active.setdefault(d, set()).add(u)
    want = {}
    for d in active:
        users = set()
        for back in range(7):
            users |= active.get(d - back, set())
        want[(base + datetime.timedelta(days=d)).date()] = len(users)
    assert got == want


def test_histsketch_bucket_math_properties():
    """Quantile-sketch math over a dense integer sweep (no Spark needed:
    the expressions are engine-portable SQL, checked in DuckDB):
    bucket id monotone in the value, lower-edge inversion bounds the
    value from below, and the relative error never exceeds 1/16."""
    import duckdb

    from event_data_etl_gcs_spark.operators.histsketch import (
        duck_bin_expr,
        duck_lo_cents_expr,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH v AS (
          SELECT CAST(x AS BIGINT) AS c FROM (
            SELECT unnest(range(0, 5000)) AS x
            UNION ALL
            SELECT unnest(list_transform(range(0, 2000),
                   i -> (i * 2654435761) % 1000000007)) AS x
          )
        ), b AS (
          SELECT c, {duck_bin_expr('c')} AS bin FROM v
        )
        SELECT c, bin, {duck_lo_cents_expr('bin')} AS lo FROM b ORDER BY c
        """
    ).fetchall()
    prev_c, prev_bin = -1, -1
    for c, b, lo in rows:
        if c == prev_c:
            continue
        assert b >= prev_bin, (c, b, prev_bin)  # monotone
        assert lo <= c, (c, b, lo)  # lower edge below the value
        # relative error bound: bucket width / value <= 1/16 (+1 shift slack)
        assert (c - lo) <= max(c, 1) / 16 + 1, (c, b, lo)
        prev_c, prev_bin = c, b


def test_zorder_interleave_bijective_and_monotone_blocks():
    """Morton-key math (queries/layout.py spelling, DuckDB twin): the
    interleave of two 8-bit ranks must be a bijection onto [0, 65536)
    and each coarse z-bucket (key >> 8) must span a bounded rectangle —
    the hyper-rectangle property pruning relies on. Mirrored-math
    oracles can share a bug (see the quantile-sketch boundary fix), so
    the algebra gets its own sweep."""
    import duckdb

    from event_data_etl_gcs_spark.queries.layout import _interleave

    zkey = _interleave("a", "b", "({v} // POW2_{i})")
    for i in range(8):
        zkey = zkey.replace(f"POW2_{i}", str(1 << i))
    con = duckdb.connect()
    n_distinct, n_rows = con.execute(
        f"""
        WITH g AS (
          SELECT a, b, {zkey} AS z
          FROM (SELECT unnest(range(0, 256)) AS a),
               (SELECT unnest(range(0, 256)) AS b)
        )
        SELECT count(DISTINCT z), count(*) FROM g
        """
    ).fetchone()
    assert n_distinct == n_rows == 65536  # bijective

    # every coarse bucket (z >> 8) covers a <= 16x16 rectangle: the
    # locality that tightens BOTH dimensions' min/max spans together
    spans = con.execute(
        f"""
        WITH g AS (
          SELECT a, b, {zkey} AS z
          FROM (SELECT unnest(range(0, 256)) AS a),
               (SELECT unnest(range(0, 256)) AS b)
        )
        SELECT max(max_a - min_a), max(max_b - min_b) FROM (
          SELECT z // 256 AS zb, max(a) AS max_a, min(a) AS min_a,
                 max(b) AS max_b, min(b) AS min_b
          FROM g GROUP BY zb
        )
        """
    ).fetchone()
    assert spans[0] <= 15 and spans[1] <= 15


def test_recursion_limit_restored_after_date_spine(spark):
    from event_data_etl_gcs_spark.queries.gapfill import (
        sql_recursive_date_spine,
    )

    before = spark.conf.get("spark.sql.cteRecursionLevelLimit")
    out = sql_recursive_date_spine(spark, SF_SMOKE)
    assert spark.conf.get("spark.sql.cteRecursionLevelLimit") == before
    rows = out.collect()  # still executable after the restore
    assert len(rows) >= 28 and all(r["n_events"] >= 0 for r in rows)


def test_shard_hash_no_int64_overflow_at_huge_doc_id(spark):
    """doc_id * 2654435761 wraps int64 above ~3.47e9 (Spark wraps
    silently -> negative h, corrupted shard order). The reduced-operand
    form must give the identical modular value, nonnegative, at any
    doc_id — and match the unreduced value where it doesn't overflow."""
    from event_data_etl_gcs_spark.queries.layout import (
        SHARD_HASH_C,
        SHARD_HASH_P,
        hash_order_prefix_tokens,
    )

    big = 5_000_000_000
    docs = spark.createDataFrame(
        [(7, "a b c"), (123456, "x y"), (big, "t1 t2 t3 t4")],
        "doc_id long, text string",
    )
    # recompute h the way hash_order_prefix_tokens does (its output drops
    # h, so recompute through the same column expression)
    t = docs.select(
        "doc_id",
        (
            ((F.col("doc_id") % F.lit(SHARD_HASH_P))
             * F.lit(SHARD_HASH_C % SHARD_HASH_P))
            % F.lit(SHARD_HASH_P)
        ).alias("h"),
    )
    got = {r["doc_id"]: r["h"] for r in t.collect()}
    for d, h in got.items():
        assert 0 <= h < SHARD_HASH_P
        assert h == (d * SHARD_HASH_C) % SHARD_HASH_P  # exact math value
    # and the full prefix-sum pipeline runs clean over the huge id
    out = hash_order_prefix_tokens(docs)
    rows = {r["doc_id"]: r["cum_before"] for r in out.collect()}
    assert set(rows) == {7, 123456, big}
    assert all(v >= 0 for v in rows.values())

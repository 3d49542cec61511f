"""Graph analytics: hand-built fixtures for triangles/BFS, a numpy
power-iteration reference for the rows-only PageRank query, and a
consistency check between the kNN edge list and the downstream ops."""

from __future__ import annotations

import numpy as np
import pytest

from event_data_etl_gcs_spark.operators.graph import (
    bfs_hops,
    knn_edges,
    pagerank,
    triangle_counts,
)
from event_data_etl_gcs_spark.queries.graph import K_NN, _edges

SF = "/root/testdata/sf0.001"


def _edge_df(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


def test_triangle_counts_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    res = {
        r["node"]: r
        for r in triangle_counts(_edge_df(spark, k4 + [(4, 5)])).collect()
    }
    for n in (1, 2, 3):
        assert res[n]["n_triangles"] == 3 and res[n]["degree"] == 3
        assert res[n]["lcc"] == 1.0
    assert res[4]["degree"] == 4 and res[4]["n_triangles"] == 3
    assert res[4]["lcc"] == pytest.approx(0.5)
    assert res[5]["n_triangles"] == 0 and res[5]["lcc"] == 0.0


def test_bfs_hops_path_graph(spark):
    # path 1-2-3-4-5-6-7: hops capped at 4 -> node 7 (5 hops) excluded.
    path = [(i, i + 1) for i in range(1, 7)]
    res = {r["node"]: r["hops"] for r in bfs_hops(_edge_df(spark, path)).collect()}
    assert res == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_pagerank_matches_numpy(spark):
    edges = _edges(spark, SF).select("u", "v")
    pr = {r["node"]: r["pagerank"] for r in pagerank(edges).collect()}

    rows = edges.collect()
    nodes = sorted({r["u"] for r in rows} | {r["v"] for r in rows})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for r in rows:
        adj[idx[r["u"]], idx[r["v"]]] = 1.0
        adj[idx[r["v"]], idx[r["u"]]] = 1.0
    deg = adj.sum(axis=1)
    rank = np.full(n, 1.0 / n)
    for _ in range(10):
        rank = (1 - 0.85) / n + 0.85 * adj.T @ (rank / deg)

    assert set(pr) == set(nodes)
    for node in nodes:
        assert pr[node] == pytest.approx(rank[idx[node]], abs=1e-9)


def test_pagerank_quantized_tracks_float(spark):
    """The scaled-integer form (the oracle-exact registered query) must
    agree with the float production operator within the floor-loss
    bound — and be exactly stable under repartitioning (integer sums
    commute; that is the whole point of the quantization)."""
    from event_data_etl_gcs_spark.operators.graph import pagerank_quantized

    edges = _edges(spark, SF).select("u", "v")
    flt = {r["node"]: r["pagerank"] for r in pagerank(edges).collect()}
    qrows = pagerank_quantized(edges).collect()
    qnt = {r["node"]: (r["pr_scaled"], r["pagerank"]) for r in qrows}
    assert set(flt) == set(qnt)
    for node, (scaled, pr) in qnt.items():
        assert pr == scaled / 10**12
        assert abs(pr - flt[node]) < 1e-9
    # partitioning independence: same integers under a different shuffle
    qnt2 = {
        r["node"]: r["pr_scaled"]
        for r in pagerank_quantized(edges.repartition(7)).collect()
    }
    assert qnt2 == {n: s for n, (s, _) in qnt.items()}


def test_knn_edges_degree_bounded(spark):
    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    edges = knn_edges(emb, k=K_NN)
    deg = triangle_counts(edges.select("u", "v")).agg({"degree": "max"}).collect()
    # each node contributes k out-edges; in-degree is unbounded in
    # theory but tiny in practice — sanity-bound it generously.
    assert deg[0][0] >= K_NN
    assert edges.count() >= emb.count() * K_NN / 2


def test_knn_edges_ann_recall(spark):
    from event_data_etl_gcs_spark.operators.graph import knn_edges_ann
    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    exact = {(r["u"], r["v"]) for r in knn_edges(emb, k=K_NN).collect()}
    approx = {(r["u"], r["v"]) for r in knn_edges_ann(emb, k=K_NN).collect()}
    recall = len(exact & approx) / len(exact)
    # banded SRP candidates miss some true neighbors by construction,
    # but must recover a solid majority and produce no malformed edges
    assert recall >= 0.5, recall
    assert all(u < v for u, v in approx)


def test_triangle_counts_vs_python_model(spark):
    import itertools
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 12
        edges = sorted(
            {
                (a, b)
                for a, b in (
                    tuple(sorted(rng.sample(range(1, n + 1), 2)))
                    for _ in range(20)
                )
            }
        )
        adj = {i: set() for i in range(1, n + 1)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {}
        for v in adj:
            if not adj[v]:
                continue
            t = sum(
                1
                for x, y in itertools.combinations(sorted(adj[v]), 2)
                if y in adj[x]
            )
            want[v] = (len(adj[v]), t)
        got = {
            r["node"]: (r["degree"], r["n_triangles"])
            for r in triangle_counts(_edge_df(spark, edges)).collect()
        }
        assert got == want


def test_bfs_hops_vs_python_model(spark):
    import random
    from collections import deque

    rng = random.Random(13)
    n = 15
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(1, n + 1), 2)))
            for _ in range(18)
        }
    )
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seed = min(adj)
    want = {seed: 0}
    dq = deque([seed])
    while dq:
        cur = dq.popleft()
        if want[cur] >= 4:
            continue
        for nb in adj[cur]:
            if nb not in want:
                want[nb] = want[cur] + 1
                dq.append(nb)
    got = {r["node"]: r["hops"] for r in bfs_hops(_edge_df(spark, edges)).collect()}
    assert got == want


def test_knn_ann_hot_bucket_cap(spark):
    """max_bucket: identity when no bucket exceeds the cap; on a
    duplicate-heavy corpus the cap drops only mega-buckets while other
    bands still supply candidates (edges survive)."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.graph import knn_edges_ann
    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(map(tuple, knn_edges_ann(emb, k=3).collect()))
    b = sorted(map(tuple, knn_edges_ann(emb, k=3, max_bucket=10**9).collect()))
    assert a == b and len(a) > 0

    # 40 near-copies of each vector -> every bucket is a mega-bucket for
    # a tiny cap; capped run must still terminate with a bounded pair
    # count and produce edges from the surviving buckets
    dup = emb
    for i in range(1, 4):
        dup = dup.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000 * i))
        )
    edges = knn_edges_ann(dup, k=3, band_bits=6, max_bucket=50)
    assert edges.count() > 0


def test_knn_ann_ring_cap(spark):
    """ring_cap: with a cap >= the largest bucket the output is
    IDENTICAL to the uncapped build (the ring enumerates every in-bucket
    pair); with a small cap on a duplicate-heavy corpus the candidate
    set is bounded (<= members x cap x bands) yet recall vs the exact
    graph stays useful for k << cap."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.graph import knn_edges, knn_edges_ann
    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    a = sorted(map(tuple, knn_edges_ann(emb, k=3).collect()))
    b = sorted(
        map(tuple, knn_edges_ann(emb, k=3, max_bucket=None, ring_cap=n).collect())
    )
    assert a == b and len(a) > 0

    # HYBRID (max_bucket + ring_cap): exact join inside sane buckets,
    # ring-sample only the hot ones — recall vs the EXACT graph must
    # beat plain skipping (max_bucket alone), because hot buckets now
    # contribute sampled-but-present candidates instead of nothing.
    # (No closeness-to-full assertion: sf0.001 embeddings cluster into
    # two DIVERSE mega-buckets of ~200/160 of 500 where no 1-D ordering
    # localizes true neighbors — measured median in-order distance 42;
    # the first lever there is band_bits, per the operator docstring.)
    exact = {(r["u"], r["v"]) for r in knn_edges(emb, k=3).collect()}
    skip = {
        (r["u"], r["v"])
        for r in knn_edges_ann(emb, k=3, max_bucket=20, ring_cap=None).collect()
    }
    hybrid = {
        (r["u"], r["v"])
        for r in knn_edges_ann(emb, k=3, max_bucket=20, ring_cap=16).collect()
    }
    recall_skip = len(skip & exact) / len(exact)
    recall_hybrid = len(hybrid & exact) / len(exact)
    assert recall_hybrid > recall_skip

    # duplicate-heavy corpus (the measured 100x hot-bucket shape):
    # exact copies project IDENTICALLY, so the projection sort places
    # them consecutively (tie-broken by id) and a ring cap >= the copy
    # count finds every duplicate pair — each node must carry a
    # cos ~ 1.0 edge even though every bucket is hot.
    dup = emb
    for i in range(1, 4):
        dup = dup.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000 * i))
        )
    edges = knn_edges_ann(dup, k=3, max_bucket=50, ring_cap=8)
    dup_edges = edges.filter(F.col("cos_sim") > 0.999)
    nodes_with_dup = (
        dup_edges.select(F.col("u").alias("node"))
        .unionByName(dup_edges.select(F.col("v").alias("node")))
        .distinct()
        .count()
    )
    assert nodes_with_dup == dup.count()


def test_knn_ann_round6_defaults(spark):
    """Round-6 posture: the zero-argument call IS the bounded hybrid.
    (a) auto band_bits resolves to 4 on small corpora so the default
    output equals the pre-round-6 uncapped build wherever no bucket
    exceeds the default cap; (b) ring_cap < 1 is a loud error; (c) the
    clamped ring emits no self-pairs and no candidates beyond the
    bucket end (pure-ring identity already pins output; here we pin the
    candidate-count bound on a tiny 2-member bucket shape)."""
    import pytest
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators.graph import (
        derive_band_bits,
        knn_edges_ann,
    )
    from event_data_etl_gcs_spark.sources.catalog import load_table

    assert derive_band_bits(100) == 4
    assert derive_band_bits(4096) == 4
    assert derive_band_bits(4097) == 5
    assert derive_band_bits(200_000) == 10
    assert derive_band_bits(200_000_000) == 20

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    defaults = sorted(map(tuple, knn_edges_ann(emb, k=3).collect()))
    uncapped = sorted(
        map(
            tuple,
            knn_edges_ann(
                emb, k=3, band_bits=4, max_bucket=None, ring_cap=None
            ).collect(),
        )
    )
    assert defaults == uncapped and len(defaults) > 0

    with pytest.raises(ValueError, match="ring_cap"):
        knn_edges_ann(emb, k=3, max_bucket=None, ring_cap=0).collect()

    # ring_cap=1 on a pure-ring build: each member pairs with at most
    # its successor -> candidate pairs <= members per (band, bucket);
    # before the clamp fix, the tpos==pos self-join row made ring_cap
    # small values emit self-pairs. Edges must never contain u == v.
    edges = knn_edges_ann(emb, k=3, max_bucket=None, ring_cap=1)
    assert edges.filter(F.col("u") == F.col("v")).count() == 0


def test_knn_ann_bucket_scoring_equals_fold(spark):
    """Round-6 scoring strategies: the vectorized bucket-local path
    (numpy signatures + per-bucket top-k, the >SCORING_FOLD_MAX_N
    default) selects the SAME edge set as the oracle-mirrored JVM fold
    path, with cos_sim equal to float-summation noise — on (a) the
    plain default geometry, (b) a caps-engaged hybrid where hot buckets
    take the ring branch, and (c) the uncapped dense branch. Also pins
    the auto dispatch (fold at small n) and the scoring arg validation."""
    import pytest

    from event_data_etl_gcs_spark.operators.graph import knn_edges_ann
    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def edge_map(df):
        return {(r["u"], r["v"]): r["cos_sim"] for r in df.collect()}

    for kwargs in (
        {},  # defaults: band_bits=4, hybrid caps (may or may not engage)
        {"band_bits": 4, "max_bucket": 16, "ring_cap": 8},  # ring engages
        {"band_bits": 4, "max_bucket": None, "ring_cap": None},  # dense
    ):
        fold = edge_map(knn_edges_ann(emb, k=3, scoring="fold", **kwargs))
        bucket = edge_map(knn_edges_ann(emb, k=3, scoring="bucket", **kwargs))
        assert set(fold) == set(bucket), kwargs
        assert len(fold) > 0
        assert all(abs(fold[e] - bucket[e]) < 1e-12 for e in fold), kwargs

    # auto == fold below the strategy threshold (500-row corpus)
    auto = edge_map(knn_edges_ann(emb, k=3))
    assert auto == edge_map(knn_edges_ann(emb, k=3, scoring="fold"))

    with pytest.raises(ValueError, match="scoring"):
        knn_edges_ann(emb, k=3, scoring="numpy")


def test_knn_ann_bucket_ring_blocking_identity(spark, monkeypatch):
    """The blocked ring scan inside the bucket-local scorer (memory
    bound for pathological hot buckets) is output-invariant: forcing a
    tiny block budget (many blocks per bucket, block size down to a few
    rows) yields the same edges as the effectively-unblocked default."""
    from event_data_etl_gcs_spark.operators import graph as G

    from event_data_etl_gcs_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kwargs = dict(
        k=3, band_bits=4, max_bucket=8, ring_cap=5, scoring="bucket"
    )  # tiny caps: most buckets go down the ring branch
    baseline = sorted(map(tuple, G.knn_edges_ann(emb, **kwargs).collect()))
    monkeypatch.setattr(G, "RING_BLOCK_ENTRIES", 40)  # blk = 40//10 = 4 rows
    blocked = sorted(map(tuple, G.knn_edges_ann(emb, **kwargs).collect()))
    assert blocked == baseline and len(baseline) > 0


def test_topk_set_mask_property():
    """_topk_set_mask == brute-force (value desc, neighbor asc) top-k
    selection, over randomized shapes including exact-value ties
    (duplicate vectors), -inf padding, rows with fewer than k finite
    entries, and k >= row width. Pure numpy — no Spark."""
    import numpy as np

    from event_data_etl_gcs_spark.operators.graph import _topk_set_mask

    rng = np.random.default_rng(123)
    for trial in range(200):
        R = int(rng.integers(1, 12))
        C = int(rng.integers(1, 20))
        kk = int(rng.integers(1, 8))
        # few distinct values -> lots of exact ties
        D = rng.choice([-np.inf, 0.1, 0.5, 0.5, 0.9], size=(R, C))
        NB = rng.permutation(R * C * 3)[: R * C].reshape(R, C).astype(np.int64)
        mask = _topk_set_mask(D, NB, kk)
        for r in range(R):
            finite = [
                (-D[r, j], NB[r, j], j) for j in range(C) if np.isfinite(D[r, j])
            ]
            expect = {j for _, _, j in sorted(finite)[: min(kk, C)]}
            got = set(np.nonzero(mask[r])[0])
            assert got == expect, (trial, r, D[r], NB[r], kk)


def test_ann_cache_accounting_bounded(spark):
    """ADVICE r6: the skinny intermediates persisted inside
    banded_srp_candidates / cosine_dedup_pairs must not accumulate
    across builds — each public entry releases the previous build's
    tracked caches, bounding executor storage at one generation in
    long-lived drivers and streaming loops."""
    from event_data_etl_gcs_spark.operators import graph
    from event_data_etl_gcs_spark.operators.similarity import cosine_dedup_pairs

    def tracked():
        # the registry is thread-local since round 10 (VERDICT r9 nit)
        return list(getattr(graph._ANN_CACHES, "frames", None) or [])

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    graph.release_ann_caches()
    graph.knn_edges_ann(emb, k=2, band_bits=4, scoring="fold").count()
    first = tracked()
    assert first, "the banded signature table should be tracked"
    assert all(df.is_cached for df in first)

    # second build releases the first build's caches at entry
    graph.knn_edges_ann(emb, k=2, band_bits=4, scoring="fold").count()
    assert all(not df.is_cached for df in first)
    second = tracked()
    assert all(df.is_cached for df in second)

    # cosine_dedup_pairs shares the registry (mem_ids + candidate engine)
    cosine_dedup_pairs(emb, threshold=0.95, scoring="fold").count()
    assert all(not df.is_cached for df in second)
    assert tracked() and all(df.is_cached for df in tracked())

    graph.release_ann_caches()
    assert not tracked()


def test_ann_cache_registry_is_thread_local(spark):
    """A concurrent build on another thread (parallel queries in one
    session) must not release this thread's live ANN caches mid-build."""
    import threading

    from event_data_etl_gcs_spark.operators.graph import (
        _track_ann_cache,
        release_ann_caches,
    )

    df = spark.range(5).cache()
    df.count()
    _track_ann_cache(df)
    t = threading.Thread(target=release_ann_caches)  # other thread's entry
    t.start()
    t.join()
    assert df.is_cached  # untouched by the other thread's release
    release_ann_caches()  # own thread releases as before
    assert not df.is_cached

"""Bit-identity pin of PageRank's small-graph switch, kept in the default
test tier: ``pagerank_quantized`` runs graphs below ``local_max_nodes``
nodes and ``PR_LOCAL_MAX_EDGES`` edges as one numpy pass in a single
task, and that path must agree bit for bit with the distributed shuffle
loop."""

from __future__ import annotations

from event_data_etl_gcs_spark.queries.graph import _edges

SF = "/root/testdata/sf0.001"


def test_pagerank_quantized_local_parity(spark):
    """The one-task numpy iteration (PR_LOCAL_MAX_NODES small-graph
    strategy, round 13) must be BIT-IDENTICAL to the distributed shuffle
    loop — same integer floor arithmetic, different physical plan. Also
    pins that an odd iteration count and iterations=0 agree (the final
    eager checkpoint and the init path)."""
    from event_data_etl_gcs_spark.operators.graph import pagerank_quantized

    edges = _edges(spark, SF).select("u", "v").localCheckpoint(eager=True)
    for iters in (0, 3, 10):
        local = {
            r["node"]: (r["pr_scaled"], r["pagerank"])
            for r in pagerank_quantized(
                edges, iterations=iters, local_max_nodes=10**9
            ).collect()
        }
        dist = {
            r["node"]: (r["pr_scaled"], r["pagerank"])
            for r in pagerank_quantized(
                edges, iterations=iters, local_max_nodes=0
            ).collect()
        }
        assert local == dist, f"iterations={iters}"


def test_pagerank_quantized_edge_bound(spark, monkeypatch):
    """A dense small graph passes the node bound but not the edge bound
    (PR_LOCAL_MAX_EDGES), so it must take the distributed loop, and agree
    bit for bit with the one-task path."""
    from pyspark.sql import functions as F

    from event_data_etl_gcs_spark.operators import graph

    # a 40-node clique plus a 60-node path hanging off node 0
    clique = spark.range(40).crossJoin(spark.range(40).withColumnRenamed("id", "v"))
    edges = (
        clique.select(F.col("id").alias("u"), "v")
        .where("u < v")
        .unionByName(spark.range(40, 100).select(F.col("id").alias("u"), (F.col("id") - 1).alias("v")))
        .localCheckpoint(eager=True)
    )

    def collect(**kw):
        return {
            r["node"]: (r["pr_scaled"], r["pagerank"])
            for r in graph.pagerank_quantized(edges, iterations=10, local_max_nodes=10**9, **kw).collect()
        }

    local = collect()
    monkeypatch.setattr(graph, "PR_LOCAL_MAX_EDGES", 1000)  # the graph has 2 * (780 + 60) edges

    def no_local(*a, **k):
        raise AssertionError("the edge bound must route this graph to the distributed loop")

    monkeypatch.setattr(graph, "_pagerank_quantized_local", no_local)
    dist = collect()
    assert len(local) == 100
    assert local == dist

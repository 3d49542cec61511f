"""Bit-identity pin of PageRank's small-graph switch, kept in the default
test tier: ``pagerank_quantized`` runs graphs below ``local_max_nodes``
as one numpy pass in a single task, and that path must agree bit for bit
with the distributed shuffle loop."""

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

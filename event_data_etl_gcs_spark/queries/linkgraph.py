"""Link graph over extracted anchors (round 10, second half).

The web-graph half of the extraction family: harvest every anchor from
the raw page (``extract_links``), aggregate external links into a
domain-level edge list (``link_graph_edges``), and score domains with
the scaled-integer PageRank (``domain_authority``) — the
harmonic-centrality/authority signal web-scale curation pipelines use
to weight crawl quality (the same role as CommonCrawl's domain-level
ranking). End-to-end exact: link parsing is dual-dialect regex, the
domain-id assignment is a deterministic ORDER BY dense id, and the
authority scores reuse the unrolled-CTE PageRank oracle
(queries/graph.duck_pagerank_ctes).

Scale shape: extract_links is map-only (explode of a per-row regex
array — linear in page bytes); the edge aggregate is one
partial-aggregated groupBy on (src, dst) hosts; domain authority runs
its shuffles on the DOMAIN graph (orders of magnitude smaller than the
page corpus — domains, not documents, are the nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import PR_SCALE, pagerank_quantized
from ..operators.html import (
    anchor_href_sql,
    anchor_text_sql,
    anchors_sql,
    canonical_url_sql,
    duck_anchor_texts,
    duck_canonical_url,
    duck_href_host,
    duck_hrefs,
    href_host_sql,
)
from ..sources.catalog import load_table
from .graph import PR_ITERS, duck_pagerank_ctes
from .html import _DUCK_FIXTURE_CTES, with_html_fixture
from .registry import query

_DUCK_LINK_CTES = (
    f"{_DUCK_FIXTURE_CTES}, la AS MATERIALIZED ("
    "  SELECT doc_id, source, "
    f"  {duck_hrefs('html')} AS hrefs, {duck_anchor_texts('html')} AS atexts"
    "  FROM h"
    "), links AS MATERIALIZED ("
    "  SELECT doc_id, source, CAST(i AS INTEGER) AS link_pos, "
    "         hrefs[i] AS href, atexts[i] AS anchor_text, "
    # external = the href carries a host: absolute http(s) OR
    # protocol-relative //host/... (round 11; was LIKE 'http%')
    f"         {duck_href_host('hrefs[i]')} <> '' AS is_external, "
    f"         {duck_href_host('hrefs[i]')} AS host"
    "  FROM la, unnest(range(1, len(hrefs) + 1)) AS r(i)"
    ")"
)


def links_frame(docs: DataFrame) -> DataFrame:
    # Round-12 fusion: ONE page-scale pass (normalize + full-match
    # extraction), then anchor-sized regexes per link. The previous
    # shape ran the normalization replaces and the anchor scan twice
    # (once for hrefs, once for texts) and carried the whole atexts
    # array through the explode; href/text/host are now derived from
    # the exploded anchor row — identical values (see anchors_sql).
    staged = with_html_fixture(docs).select(
        "doc_id",
        "source",
        F.expr(anchors_sql("html")).alias("anchors"),
    )
    base = staged.select(
        "doc_id",
        "source",
        F.posexplode("anchors").alias("pos0", "anchor"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).cast("int").alias("link_pos"),
        F.expr(anchor_href_sql("anchor")).alias("href"),
        F.expr(anchor_text_sql("anchor")).alias("anchor_text"),
    )
    # host staged once; is_external derives from it (was two regexes)
    return base.withColumn("host", F.expr(href_host_sql("href"))).select(
        "doc_id",
        "source",
        "link_pos",
        "href",
        "anchor_text",
        # external = the href carries a host (absolute OR //-relative)
        (F.col("host") != F.lit("")).alias("is_external"),
        "host",
    )


@query(
    "extract_links",
    oracle=(
        f"WITH {_DUCK_LINK_CTES} "
        "SELECT doc_id, source, link_pos, href, anchor_text, "
        "is_external, host FROM links"
    ),
    doc=(
        "Anchor inventory from the RAW page (crawl frontier / web graph "
        "input): per link, its position, href, cleaned anchor text, "
        "external flag, and host — one regex pass + posexplode, aligned "
        "index-for-index across the href/text capture groups. Map-only."
    ),
)
def extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return links_frame(load_table(spark, sf_dir, "documents", fan_out=True))


@query(
    "link_graph_edges",
    oracle=(
        f"WITH {_DUCK_LINK_CTES} "
        "SELECT source || '.example.com' AS src_host, host AS dst_host, "
        "COUNT(*) AS n_links, COUNT(DISTINCT doc_id) AS n_docs "
        "FROM links WHERE is_external AND host <> '' "
        "GROUP BY src_host, dst_host"
    ),
    doc=(
        "Domain-level link edges: external anchors aggregated to "
        "(src_host, dst_host, n_links, n_docs) — the web graph's edge "
        "list, shuffled on host pairs (domain-cardinality, not "
        "document-cardinality)."
    ),
)
def link_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
    return (
        links.filter(F.col("is_external") & (F.col("host") != ""))
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("src_host"),
            F.col("host").alias("dst_host"),
            "doc_id",
        )
        .groupBy("src_host", "dst_host")
        .agg(
            F.count("*").alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# Canonical-URL layer (round 11): resolve + normalize every harvested
# href against the page host, then dedup the crawl frontier on the
# canonical form — the normalization step real pipelines run before
# frontier scheduling and link-graph construction (tracking params and
# fragments otherwise explode the frontier with aliases of one page).
_DUCK_SRC_HOST = "(source || '.example.com')"
_DUCK_CANON_CTES = (
    f"{_DUCK_LINK_CTES}, canon AS MATERIALIZED ("
    "  SELECT doc_id, source, link_pos, href, anchor_text, is_external, host, "
    f"  {duck_canonical_url('href', _DUCK_SRC_HOST)} AS canonical_url"
    "  FROM links"
    ")"
)


def canonical_links_frame(docs: DataFrame) -> DataFrame:
    links = links_frame(docs)
    return links.withColumn(
        "canonical_url",
        F.expr(canonical_url_sql("href", "(source || '.example.com')")),
    )


@query(
    "canonical_links",
    oracle=(
        f"WITH {_DUCK_CANON_CTES} "
        "SELECT doc_id, link_pos, href, canonical_url, is_external, host "
        "FROM canon"
    ),
    doc=(
        "Per-link canonical URL: relative references resolved against "
        "the page host, scheme+authority lowercased (RFC 3986 case "
        "rules; path case preserved), fragment stripped, tracking "
        "params (utm_*/gclid/fbclid) dropped, non-http schemes -> NULL. "
        "Pure string expressions on the harvested anchor table — "
        "map-only at any corpus size."
    ),
)
def canonical_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_links_frame(load_table(spark, sf_dir, "documents", fan_out=True)).select(
        "doc_id", "link_pos", "href", "canonical_url", "is_external", "host"
    )


@query(
    "crawl_frontier",
    oracle=(
        f"WITH {_DUCK_CANON_CTES} "
        "SELECT canonical_url, "
        f"{duck_href_host('canonical_url')} AS dst_host, "
        "COUNT(*) AS n_refs, COUNT(DISTINCT doc_id) AS n_docs, "
        "MIN(doc_id) AS first_doc "
        "FROM canon WHERE canonical_url IS NOT NULL "
        "GROUP BY canonical_url"
    ),
    doc=(
        "Crawl-frontier dedup: one row per DISTINCT canonical URL "
        "(internal + external; mailto/javascript excluded as NULL) with "
        "reference counts and the first referencing doc — the dedup a "
        "frontier scheduler runs so ?utm_source= aliases of one page "
        "enqueue once. One groupBy at distinct-URL cardinality after "
        "the map-only canonicalization."
    ),
)
def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = canonical_links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
    return (
        canon.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_refs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .withColumn(
            "dst_host", F.expr(href_host_sql("canonical_url"))
        )
        .select(
            "canonical_url", "dst_host", "n_refs", "n_docs", "first_doc"
        )
    )


# Per-host politeness budget: how many frontier URLs a scheduler may
# enqueue per target host per cycle (crawl-rate limiting).
HOST_BUDGET = 4


@query(
    "anchor_text_profile",
    oracle=(
        f"WITH {_DUCK_CANON_CTES}, at AS MATERIALIZED ("
        "  SELECT canonical_url, anchor_text, COUNT(*) AS cnt"
        "  FROM canon WHERE canonical_url IS NOT NULL"
        "  GROUP BY canonical_url, anchor_text"
        "), ranked AS ("
        "  SELECT canonical_url, anchor_text, cnt, "
        "         ROW_NUMBER() OVER (PARTITION BY canonical_url "
        "            ORDER BY cnt DESC, anchor_text) AS rn, "
        "         SUM(cnt) OVER (PARTITION BY canonical_url) AS n_refs, "
        "         COUNT(*) OVER (PARTITION BY canonical_url) AS n_texts"
        "  FROM at) "
        "SELECT canonical_url, CAST(n_refs AS BIGINT) AS n_refs, "
        "CAST(n_texts AS BIGINT) AS n_texts, anchor_text AS top_text, "
        "CAST(cnt AS BIGINT) AS top_text_refs FROM ranked WHERE rn = 1"
    ),
    doc=(
        "Anchor-text profile per canonical target URL: total reference "
        "count, distinct anchor-text count, and the most common anchor "
        "text (ties broken lexicographically) — the classic link-text "
        "relevance/ranking signal, aggregated on the DEDUPED canonical "
        "form so '?utm_source=' aliases pool their text evidence. Two "
        "partial-aggregated groupBys ((url, text) then url via window) "
        "— shuffles bounded by distinct-(url, text) cardinality, never "
        "page bytes."
    ),
)
def anchor_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = canonical_links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
    at = (
        canon.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url", "anchor_text")
        .agg(F.count("*").alias("cnt"))
    )
    wu = Window.partitionBy("canonical_url")
    wr = wu.orderBy(F.col("cnt").desc(), "anchor_text")
    return (
        at.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_refs", F.sum("cnt").over(wu))
        .withColumn("n_texts", F.count("*").over(wu))
        .filter(F.col("rn") == 1)
        .select(
            "canonical_url",
            F.col("n_refs").cast("long").alias("n_refs"),
            F.col("n_texts").cast("long").alias("n_texts"),
            F.col("anchor_text").alias("top_text"),
            F.col("cnt").cast("long").alias("top_text_refs"),
        )
    )


@query(
    "frontier_host_budget",
    oracle=(
        f"WITH {_DUCK_CANON_CTES}, f AS MATERIALIZED ("
        "  SELECT canonical_url, "
        f"  {duck_href_host('canonical_url')} AS dst_host, "
        "  COUNT(*) AS n_refs"
        "  FROM canon WHERE canonical_url IS NOT NULL"
        "  GROUP BY canonical_url"
        ") SELECT * FROM ("
        "  SELECT canonical_url, dst_host, CAST(n_refs AS BIGINT) AS n_refs, "
        "         CAST(ROW_NUMBER() OVER (PARTITION BY dst_host "
        "            ORDER BY n_refs DESC, canonical_url) AS INT) AS crawl_rank"
        f"  FROM f) WHERE crawl_rank <= {HOST_BUDGET}"
    ),
    doc=(
        "Per-host crawl budget: the frontier's URLs ranked within each "
        "target host by reference count (ties lexicographic), top "
        f"{HOST_BUDGET} kept — the politeness-bounded enqueue set a "
        "frontier scheduler emits per cycle so no host is hammered. "
        "One groupBy at distinct-URL cardinality, then a per-host "
        "window whose partitions are host-sized (hosts are the "
        "scheduler's natural parallel unit); skew on a mega-host is "
        "bounded because rank>budget rows are dropped, not sorted "
        "globally."
    ),
)
def frontier_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = canonical_links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
    f = (
        canon.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_refs"))
        .withColumn("dst_host", F.expr(href_host_sql("canonical_url")))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_refs").desc(), "canonical_url"
    )
    return (
        f.withColumn("crawl_rank", F.row_number().over(w))
        .filter(F.col("crawl_rank") <= HOST_BUDGET)
        .select(
            "canonical_url",
            "dst_host",
            F.col("n_refs").cast("long").alias("n_refs"),
            F.col("crawl_rank").cast("int").alias("crawl_rank"),
        )
    )


_DUCK_AUTHORITY_EDGE_CTES = (
    f"{_DUCK_LINK_CTES}, pairs AS MATERIALIZED ("
    "  SELECT DISTINCT source || '.example.com' AS src_host, host AS dst_host"
    "  FROM links WHERE is_external AND host <> ''"
    "), doms AS MATERIALIZED ("
    "  SELECT DISTINCT dom FROM ("
    "    SELECT src_host AS dom FROM pairs "
    "    UNION ALL SELECT dst_host FROM pairs)"
    "), dids AS MATERIALIZED ("
    "  SELECT dom, CAST(ROW_NUMBER() OVER (ORDER BY dom) - 1 AS BIGINT) "
    "  AS nid FROM doms"
    "), ed AS MATERIALIZED ("
    "  SELECT DISTINCT least(a.nid, b.nid) AS u, greatest(a.nid, b.nid) AS v"
    "  FROM pairs p JOIN dids a ON a.dom = p.src_host "
    "  JOIN dids b ON b.dom = p.dst_host WHERE a.nid <> b.nid"
    ")"
)


@query(
    "domain_authority",
    oracle=(
        f"WITH {duck_pagerank_ctes(_DUCK_AUTHORITY_EDGE_CTES)} "
        f"SELECT d.dom AS domain, p.r AS pr_scaled, "
        f"CAST(p.r AS DOUBLE) / {PR_SCALE} AS authority "
        f"FROM pr{PR_ITERS} p JOIN dids d ON d.nid = p.node"
    ),
    doc=(
        "Domain authority: scaled-integer PageRank over the undirected "
        "domain link graph (deterministic dense ids by domain name; "
        "10 unrolled iterations, exact oracle). The quality-weighting "
        "signal a crawl-curation pipeline joins back onto documents. "
        "All iteration shuffles run at domain cardinality."
    ),
)
def domain_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
        .filter(F.col("is_external") & (F.col("host") != ""))
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("src_host"),
            F.col("host").alias("dst_host"),
        )
        .distinct()
    )
    doms = (
        pairs.select(F.col("src_host").alias("dom"))
        .unionAll(pairs.select(F.col("dst_host").alias("dom")))
        .distinct()
    )
    # domain-cardinality table: the single-partition ordering window is
    # bounded by the number of DOMAINS, never documents
    dids = doms.select(
        "dom",
        (F.row_number().over(Window.orderBy("dom")) - 1)
        .cast("long")
        .alias("nid"),
    ).localCheckpoint(eager=True)
    a = dids.select(F.col("dom").alias("src_host"), F.col("nid").alias("anid"))
    b = dids.select(F.col("dom").alias("dst_host"), F.col("nid").alias("bnid"))
    edges = (
        pairs.join(a, "src_host")
        .join(b, "dst_host")
        .filter(F.col("anid") != F.col("bnid"))
        .select(
            F.least("anid", "bnid").alias("u"),
            F.greatest("anid", "bnid").alias("v"),
        )
        .distinct()
    )
    pr = pagerank_quantized(edges, iterations=PR_ITERS)
    return pr.join(dids, pr["node"] == dids["nid"]).select(
        F.col("dom").alias("domain"),
        "pr_scaled",
        F.col("pagerank").alias("authority"),
    )


@query(
    "doc_outlink_authority",
    oracle=(
        f"WITH {duck_pagerank_ctes(_DUCK_AUTHORITY_EDGE_CTES)}, "
        "auth AS (SELECT d.dom AS domain, p.r FROM "
        f"pr{PR_ITERS} p JOIN dids d ON d.nid = p.node), "
        "dl AS (SELECT DISTINCT doc_id, host FROM links "
        "WHERE is_external AND host <> '') "
        "SELECT dl.doc_id, COUNT(*) AS n_domains, "
        "CAST(SUM(a.r) AS BIGINT) AS auth_sum_scaled, "
        f"CAST(SUM(a.r) AS DOUBLE) / (COUNT(*) * {PR_SCALE}) "
        "AS mean_authority "
        "FROM dl JOIN auth a ON a.domain = dl.host GROUP BY dl.doc_id"
    ),
    doc=(
        "Authority joined BACK onto documents — the curation signal the "
        "link graph exists to produce: per doc, the count of distinct "
        "external target domains, the exact int64 sum of their scaled "
        "authority, and the mean authority (one exact double division). "
        "The authority table is domain-cardinality, so the join-back "
        "broadcasts onto the doc-link table; everything upstream of it "
        "is the map-only harvest + domain-sized PageRank."
    ),
)
def doc_outlink_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    auth = domain_authority(spark, sf_dir).select(
        F.col("domain").alias("host"), "pr_scaled"
    )
    dl = (
        links_frame(load_table(spark, sf_dir, "documents", fan_out=True))
        .filter(F.col("is_external") & (F.col("host") != ""))
        .select("doc_id", "host")
        .distinct()
    )
    return (
        dl.join(F.broadcast(auth), "host")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_domains"),
            F.sum("pr_scaled").cast("bigint").alias("auth_sum_scaled"),
        )
        .withColumn(
            "mean_authority",
            F.col("auth_sum_scaled").cast("double")
            / (F.col("n_domains") * F.lit(PR_SCALE)).cast("double"),
        )
        .select("doc_id", "n_domains", "auth_sum_scaled", "mean_authority")
    )

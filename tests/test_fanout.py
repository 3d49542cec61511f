"""The opt-in scan fan-out in sources/catalog.load_table
(optimization guide §2.5: an unsplittable single-row-group file leaves
every pre-exchange operator on one core).

Contract pinned here:
  * ``fan_out=True`` on a single-file table >= FANOUT_MIN_BYTES
    round-robin repartitions the scan to the session parallelism;
  * the default is OFF — callers that are cascades of small stages
    measured SLOWER with a forced fan-out, so only the measured
    map-heavy sites opt in;
  * tiny tables (below the floor) keep their raw scan even when the
    caller opts in — no exchange where a broadcast build would only be
    delayed (this is also why the sf0.001 map-only plan pins hold: every
    sf0.001 file sits below the floor);
  * results are unchanged (same rows either way — the exchange is
    round-robin, and every registered query is partitioning-independent
    per the determinism audit).
"""

from __future__ import annotations

from event_data_etl_gcs_spark.sources import catalog

SF01 = "/root/testdata/sf0.1"
SF0001 = "/root/testdata/sf0.001"


def test_opt_in_large_single_file_fans_out(spark):
    df = catalog.load_table(spark, SF01, "documents", fan_out=True)
    assert (
        df.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_default_is_raw_scan(spark):
    df = catalog.load_table(spark, SF01, "documents")
    assert df.rdd.getNumPartitions() == 1


def test_tiny_table_keeps_raw_scan_even_opted_in(spark):
    # nation.parquet is ~2.7 KB — far below the floor at every SF
    df = catalog.load_table(spark, SF01, "nation", fan_out=True)
    assert df.rdd.getNumPartitions() == 1
    # sf0.001 documents (~64 KB) also stays unsplit: the map-only plan
    # pins (test_html_extract / test_linkgraph) rely on this
    small = catalog.load_table(spark, SF0001, "documents", fan_out=True)
    assert small.rdd.getNumPartitions() == 1


def test_fanout_preserves_rows(spark):
    fanned = catalog.load_table(spark, SF01, "documents", fan_out=True)
    raw = catalog.load_table(spark, SF01, "documents")
    assert fanned.count() == raw.count()
    assert fanned.select("doc_id").exceptAll(
        raw.select("doc_id")
    ).count() == 0

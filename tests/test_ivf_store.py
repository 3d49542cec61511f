"""Persisted IVF index (build-once/search-many) + PCA model lifecycle
(VERDICT r8 directives #3 and #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.operators.ivf_store import (
    model_version,
    read_manifest,
    search_ivf_index,
    write_ivf_index,
)
from event_data_etl_gcs_spark.operators.linalg import pca_fit
from event_data_etl_gcs_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )


def _fit(spark):
    emb = load_table(spark, SF, "embeddings")
    qe, qw, _ = pca_fit(emb)
    return emb, qe, qw


def test_persisted_search_bit_identical_to_inline_composition(spark, tmp_path):
    """Searching the persisted index returns bit-for-bit the rows the
    inline build+search composition (pca_ivf_topk) returns — the
    persisted index IS the inline one, written down."""
    from event_data_etl_gcs_spark.queries.pca import pca_ivf_topk_frame

    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    queries = emb.filter(F.col("vec_id") < 15)
    got = search_ivf_index(spark, path, queries, qe, qw=qw, top_k=5, n_probe=3)
    want = pca_ivf_topk_frame(emb, qe, n_query=15, n_probe=3, top_k=5)
    assert _rows(got) == _rows(want)


def test_search_scans_only_probed_cells(spark, tmp_path):
    """The search-side index scan must carry a static partition filter
    on cell (probed cells are known driver-side) — the plan's FileScan
    shows PartitionFilters and the unprobed cells cost zero I/O."""
    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    queries = emb.filter(F.col("vec_id") < 3)
    out = search_ivf_index(spark, path, queries, qe, qw=qw, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # static pruning on the partition column of the index scan
    assert "PartitionFilters: [cell" in plan.replace("  ", " "), plan
    # routing side broadcasts into the candidate join; the index scan is
    # never shuffled on cell (the r8 pca_ivf_topk fix, persisted form)
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning(cell" not in plan, plan


def test_model_version_content_addressed():
    qe = [[1, 2, 3], [4, 5, 6]]
    qw = [7, 8]
    v1 = model_version(qe, qw)
    assert v1 == model_version([[1, 2, 3], [4, 5, 6]], [7, 8])
    assert v1 != model_version([[1, 2, 4], [4, 5, 6]], [7, 8])  # qe change
    assert v1 != model_version(qe, [7, 9])  # qw change
    assert v1 != model_version(qe)  # missing qw


def test_version_mismatch_fails_loudly(spark, tmp_path):
    """A consumer holding model-N literals must not silently search an
    index built under model N+1 (VERDICT r8 #6)."""
    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    queries = emb.filter(F.col("vec_id") < 3)
    stale = [list(row) for row in qe]
    stale[0][0] += 1  # a refit that moved one component
    with pytest.raises(ValueError, match="version mismatch"):
        search_ivf_index(spark, path, queries, stale, qw=qw)
    # missing manifest is equally loud
    with pytest.raises(FileNotFoundError):
        search_ivf_index(spark, str(tmp_path / "nope"), queries, qe, qw=qw)


def test_append_equals_fresh_full_build(spark, tmp_path):
    """build(half) + append(half) == build(all): frozen centroids make
    assignment per-vector, so the persisted index rows are identical —
    BUT ONLY when the build-side centroids come from the same seed set.
    We build on the FULL corpus's seed prefix both times by building on
    a half that contains the k smallest vec_ids (initial_centroids'
    seed rule), then searching both indexes returns identical rows."""
    from event_data_etl_gcs_spark.operators.ivf_store import append_ivf_index

    emb, qe, qw = _fit(spark)
    n = emb.count()
    half_a = emb.filter(F.col("vec_id") < n // 2)  # holds the seed prefix
    half_b = emb.filter(F.col("vec_id") >= n // 2)

    p_inc = str(tmp_path / "inc")
    write_ivf_index(half_a, qe, p_inc, qw=qw)
    m = append_ivf_index(half_b, p_inc, qe, qw=qw)

    p_full = str(tmp_path / "full")
    m_full = write_ivf_index(emb, qe, p_full, qw=qw)

    # identical manifests (n_rows) — but the seed centroids differ only
    # if half_a lacked the k smallest ids, which it doesn't
    assert m["n_rows"] == m_full["n_rows"]
    inc_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(p_inc + "/index")
        .select("vec_id", "cell", "nrm")
        .collect()
    )
    full_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(p_full + "/index")
        .select("vec_id", "cell", "nrm")
        .collect()
    )
    assert inc_rows == full_rows
    # and the search over the appended index matches the fresh build
    queries = emb.filter(F.col("vec_id") < 5)
    got = search_ivf_index(spark, p_inc, queries, qe, qw=qw)
    want = search_ivf_index(spark, p_full, queries, qe, qw=qw)
    assert _rows(got) == _rows(want)


def test_append_version_mismatch_fails_loudly(spark, tmp_path):
    from event_data_etl_gcs_spark.operators.ivf_store import append_ivf_index

    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    stale = [list(row) for row in qe]
    stale[0][0] += 1
    with pytest.raises(ValueError, match="version mismatch"):
        append_ivf_index(emb.limit(3), path, stale, qw=qw)


def test_refit_on_changed_corpus_changes_version(spark, tmp_path):
    """A model refitted after the corpus changed gets a NEW version, so
    an old index + new model (or vice versa) cannot silently mix."""
    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    grown = emb.select("vec_id", "embedding").union(
        emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                   F.reverse("embedding").alias("embedding"))
    )
    qe2, qw2, _ = pca_fit(grown)
    assert model_version(qe2, qw2) != read_manifest(path)["model_version"]
    with pytest.raises(ValueError, match="version mismatch"):
        search_ivf_index(
            spark, path, emb.filter(F.col("vec_id") < 3), qe2, qw=qw2
        )


# ---------------------------------------------------------------------
# Deletes: tombstones + compaction (round 9 lifecycle completion)
# ---------------------------------------------------------------------


def test_delete_equals_fresh_build_without_deleted(spark, tmp_path):
    """With frozen centroids, tombstoning a set D searches bit-identical
    to a fresh build over corpus-minus-D (D chosen above the centroid
    seed ids so both builds share centroids)."""
    from event_data_etl_gcs_spark.operators.ivf_store import (
        delete_from_ivf_index,
    )

    emb, qe, qw = _fit(spark)
    dead = [r.vec_id for r in emb.select("vec_id").collect()][-20:]
    assert min(dead) > 64, "delete set must not touch centroid seeds"

    full = str(tmp_path / "full")
    write_ivf_index(emb, qe, full, qw=qw)
    m = delete_from_ivf_index(spark, full, dead)
    assert m["n_tombstones"] == len(dead)

    reduced = str(tmp_path / "reduced")
    write_ivf_index(
        emb.filter(~F.col("vec_id").isin(dead)), qe, reduced, qw=qw
    )
    queries = emb.filter(F.col("vec_id") < 10)
    got = search_ivf_index(spark, full, queries, qe, qw=qw)
    want = search_ivf_index(spark, reduced, queries, qe, qw=qw)
    assert _rows(got) == _rows(want)
    assert not {r[1] for r in _rows(got)} & set(dead)


def test_compaction_preserves_search_and_clears_log(spark, tmp_path):
    from event_data_etl_gcs_spark.operators.ivf_store import (
        compact_ivf_index,
        delete_from_ivf_index,
    )
    import os

    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    m0 = write_ivf_index(emb, qe, path, qw=qw)
    dead = [r.vec_id for r in emb.select("vec_id").collect()][-15:]
    delete_from_ivf_index(spark, path, dead)
    queries = emb.filter(F.col("vec_id") < 10)
    before = _rows(search_ivf_index(spark, path, queries, qe, qw=qw))

    m = compact_ivf_index(spark, path)
    assert m["n_tombstones"] == 0
    assert m["n_rows"] == m0["n_rows"] - len(dead)
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    after = _rows(search_ivf_index(spark, path, queries, qe, qw=qw))
    assert after == before


def test_compaction_crash_recovery_every_phase(spark, tmp_path):
    """Interrupt the swap at each phase boundary; recovery (run by the
    next compact) converges to the clean compacted state."""
    import os
    import shutil

    from event_data_etl_gcs_spark.operators.ivf_store import (
        compact_ivf_index,
        delete_from_ivf_index,
        recover_ivf_compaction,
    )

    emb, qe, qw = _fit(spark)
    dead = [r.vec_id for r in emb.select("vec_id").collect()][-15:]
    queries = emb.filter(F.col("vec_id") < 10)

    def build(p):
        write_ivf_index(emb, qe, p, qw=qw)
        delete_from_ivf_index(spark, p, dead)

    ref = str(tmp_path / "ref")
    build(ref)
    compact_ivf_index(spark, ref)
    want = _rows(search_ivf_index(spark, ref, queries, qe, qw=qw))

    # phase 1 crash: staged copy written, swap not started
    p1 = str(tmp_path / "p1")
    build(p1)
    live = spark.read.parquet(os.path.join(p1, "index")).join(
        F.broadcast(spark.createDataFrame([(i,) for i in dead], "vec_id long")),
        "vec_id",
        "left_anti",
    )
    live.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(p1, "index.compact_new")
    )
    assert "dropped-stale-staging" in recover_ivf_compaction(p1)
    compact_ivf_index(spark, p1)
    assert _rows(search_ivf_index(spark, p1, queries, qe, qw=qw)) == want

    # phase 2 crash: index renamed away, staged copy not yet promoted
    p2 = str(tmp_path / "p2")
    build(p2)
    live2 = spark.read.parquet(os.path.join(p2, "index")).join(
        F.broadcast(spark.createDataFrame([(i,) for i in dead], "vec_id long")),
        "vec_id",
        "left_anti",
    )
    live2.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(p2, "index.compact_new")
    )
    os.rename(
        os.path.join(p2, "index"), os.path.join(p2, "index.compact_old")
    )
    assert "promoted-staged-index" in recover_ivf_compaction(p2)
    # tombstones still present: search stays correct, next compact folds
    assert _rows(search_ivf_index(spark, p2, queries, qe, qw=qw)) == want
    compact_ivf_index(spark, p2)
    assert _rows(search_ivf_index(spark, p2, queries, qe, qw=qw)) == want

    # phase 3 crash: swap done, old copy + tombstones not yet removed
    p3 = str(tmp_path / "p3")
    build(p3)
    compacted = str(tmp_path / "p3_done")
    shutil.copytree(p3, compacted)
    compact_ivf_index(spark, compacted)
    shutil.copytree(
        os.path.join(compacted, "index"),
        os.path.join(p3, "index.compact_tmp"),
    )
    os.rename(
        os.path.join(p3, "index"), os.path.join(p3, "index.compact_old")
    )
    os.rename(
        os.path.join(p3, "index.compact_tmp"), os.path.join(p3, "index")
    )
    assert "dropped-old-index" in recover_ivf_compaction(p3)
    assert not os.path.isdir(os.path.join(p3, "tombstones"))
    assert _rows(search_ivf_index(spark, p3, queries, qe, qw=qw)) == want


def test_append_refuses_tombstoned_ids(spark, tmp_path):
    from event_data_etl_gcs_spark.operators.ivf_store import (
        append_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
    )

    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    keep, readd = ids[:-5], ids[-5:]
    write_ivf_index(emb.filter(F.col("vec_id").isin(keep)), qe, path, qw=qw)
    delete_from_ivf_index(spark, path, readd)
    incoming = emb.filter(F.col("vec_id").isin(readd))
    with pytest.raises(ValueError, match="tombstoned"):
        append_ivf_index(incoming, path, qe, qw=qw)
    # compaction clears the log; the append then succeeds
    compact_ivf_index(spark, path)
    m = append_ivf_index(incoming, path, qe, qw=qw)
    assert m["n_rows"] == len(ids)


def test_index_stats_track_lifecycle(spark, tmp_path):
    from event_data_etl_gcs_spark.operators.ivf_store import (
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_stats,
    )

    emb, qe, qw = _fit(spark)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    s0 = ivf_index_stats(spark, path)
    assert s0["n_cells_used"] <= s0["k_cells"]
    assert 0 < s0["max_cell_fraction"] <= 1.0
    assert s0["imbalance"] >= 1.0
    assert s0["n_tombstones"] == 0

    dead = [r.vec_id for r in emb.select("vec_id").collect()][-25:]
    delete_from_ivf_index(spark, path, dead)
    s1 = ivf_index_stats(spark, path)
    assert s1["n_tombstones"] == 25
    assert s1["tombstone_fraction"] > 0
    # physical rows unchanged until compaction
    assert s1["n_rows"] == s0["n_rows"]

    compact_ivf_index(spark, path)
    s2 = ivf_index_stats(spark, path)
    assert s2["n_tombstones"] == 0
    assert s2["n_rows"] == s0["n_rows"] - 25


def test_compact_all_tombstoned_index_stays_readable(spark, tmp_path):
    from event_data_etl_gcs_spark.operators.ivf_store import (
        append_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_stats,
    )

    emb = load_table(spark, SF, "embeddings")
    qe, qw, _ = pca_fit(emb)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, qe, path, qw=qw)
    delete_from_ivf_index(spark, path, emb.select("vec_id"))
    m = compact_ivf_index(spark, path)
    assert m["n_rows"] == 0 and m["n_tombstones"] == 0

    # every lifecycle read of the empty index keeps working
    stats = ivf_index_stats(spark, path)
    assert stats["n_rows"] == 0 and stats["n_cells_used"] == 0
    queries = emb.filter(F.col("vec_id") < 3)
    got = search_ivf_index(spark, path, queries, qe, qw=qw)
    assert got.count() == 0
    # compacting again (no tombstones) is a no-op, not an error
    m2 = compact_ivf_index(spark, path)
    assert m2["n_rows"] == 0

    # the index accepts appends again and search comes back to life
    append_ivf_index(emb, path, qe, qw=qw)
    assert search_ivf_index(spark, path, queries, qe, qw=qw).count() > 0

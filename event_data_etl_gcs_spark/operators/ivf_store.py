"""Persisted PCA-IVF index: build once, search many (VERDICT r8 #3).

The production ANN shape is NOT build-and-search-in-one-plan (what
``queries/pca.pca_ivf_topk`` measures): the inverted file is built once,
persisted cell-partitioned, and every later query answers from the
persisted index alone — search cost is the probed cells' partition scan
plus the exact re-rank, never an index rebuild. This module is that
capability:

    write_ivf_index(emb, qe, path)      # one corpus pass -> parquet
    search_ivf_index(spark, path, q, qe)  # probed-cells scan + re-rank
    append_ivf_index(new, path, qe)     # frozen-centroid inserts
    delete_from_ivf_index(spark, path, ids)  # tombstone log
    compact_ivf_index(spark, path)      # fold tombstones, crash-safe

On-disk layout (plain parquet + JSON — no table format required)::

    {path}/manifest.json   model_version, k_cells, pca_k, dim, n_rows,
                           n_tombstones
    {path}/centroids/      (cid, cvec array<double>)  [projected space]
    {path}/index/          partitioned by cell:
                           (vec_id, embedding, nrm)
    {path}/tombstones/     (vec_id) — the delete log, folded away by
                           compact_ivf_index

Model lifecycle (VERDICT r8 #6): the manifest records the
content-addressed VERSION of the quantized PCA model
(:func:`model_version` — a SHA-256 over the exact int64 components, so
two bit-identical models share a version and any refit that changes a
single component gets a new one). ``search_ivf_index`` refuses a model
whose version differs from the one the index was built with: a consumer
holding ``qe`` literals from delivery N would otherwise silently route
queries through cells assigned under delivery N+1's model and return
plausible-but-wrong neighbors. Mixing versions fails loudly instead
(tests/test_ivf_store.py).

100 TB posture: the build is one map-only projection + broadcast
centroid assignment + one cell-partitioned write (the corpus never
shuffles — dynamic partition write groups by the partition column only
at the writer). Search touches ONLY the probed cells: the probed cell
ids are known driver-side (n_query x n_probe rows by construction), so
the index scan carries a static ``cell IN (...)`` partition filter —
visible as PartitionFilters in the plan, zero data read from unprobed
cells — and the routing side broadcasts into the candidate join exactly
like ``pca_ivf_topk`` after the r8 fix.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .clustering import K_CLUSTERS, assign_clusters, initial_centroids
from .linalg import pca_project_array
from .similarity import dot_sql, norm_sql

MANIFEST_NAME = "manifest.json"


def model_version(qe, qw=None) -> str:
    """Content-addressed version of a quantized PCA model: SHA-256 over
    the exact int64 eigenvector components (and whitening factors when
    given). Bit-identical models — e.g. a refit over the same corpus —
    share a version; any numeric change produces a new one."""
    import hashlib

    h = hashlib.sha256()
    for row in qe:
        for v in row:
            h.update(int(v).to_bytes(8, "little", signed=True))
    h.update(b"|qw|")
    if qw is not None:
        for v in qw:
            h.update(int(v).to_bytes(8, "little", signed=True))
    return h.hexdigest()[:16]


def write_ivf_index(
    emb: DataFrame,
    qe,
    path: str,
    k_cells: int = K_CLUSTERS,
    qw=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
    index_version: int = 1,
) -> dict:
    """Build and persist the PCA-routed inverted file; returns the
    manifest. Deterministic: centroids are the k smallest-id projected
    vectors (the pca_ivf_cells seed rule), assignment ties break to the
    lower cell id — so the persisted index is bit-identical to the
    inline build and the search composition keeps its exact oracle.

    ``lloyd_iters > 0`` refines the deterministic seeds with that many
    Lloyd rounds in the projected space (quantized-mean recompute —
    partitioning-independent, so the refined build is still
    bit-reproducible). This is the centroid quality a RETRAIN restores
    on a drifted corpus (:func:`retrain_ivf_index` uses it); the
    default 0 keeps the seed-rule build that the inline
    ``pca_ivf_topk`` oracle composition pins."""
    spark = emb.sparkSession
    vecs = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    parr = pca_project_array(vecs, qe)
    if lloyd_iters > 0:
        from .clustering import kmeans_iterate

        assigned, cents = kmeans_iterate(
            parr,
            k=k_cells,
            n_iter=lloyd_iters,
            id_col="vec_id",
            vec_col="pvec",
            return_centroids=True,
        )
        assign = assigned.select(
            "vec_id", F.col("cluster_id").alias("cell")
        )
    else:
        cents = initial_centroids(parr, k=k_cells, id_col="vec_id", vec_col="pvec")
        assign = assign_clusters(parr, cents, id_col="vec_id", vec_col="pvec").select(
            "vec_id", F.col("cluster_id").alias("cell")
        )
    inv = (
        vecs.withColumn("nrm", F.expr(norm_sql("embedding")))
        # zero-norm vectors: cosine undefined, never a candidate
        .filter(F.col("nrm") > 0)
        .join(assign, "vec_id")
        .select("vec_id", "embedding", "nrm", "cell")
    )
    inv.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "index")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    dim = len(qe[0])
    written = spark.read.parquet(os.path.join(path, "index"))
    manifest = {
        "model_version": model_version(qe, qw),
        "k_cells": int(k_cells),
        "pca_k": int(len(qe)),
        "dim": int(dim),
        "n_rows": written.count(),
        "index_version": int(index_version),
        "lloyd_iters": int(lloyd_iters),
        # read-side schema (cell as the inferred partition column) so an
        # all-tombstoned compaction can still be read back (_read_index)
        "index_schema": written.schema.jsonValue(),
    }
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))
    return manifest


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    qe,
    qw=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Absorb a batch of NEW vectors into the persisted index without
    touching existing rows: assign against the FROZEN centroids (the
    persisted table — map-only, no retraining) and append to the cell
    partitions. Because assignment is per-vector and the centroids are
    frozen, build-half-then-append-half is BIT-IDENTICAL to a fresh
    full build (pinned in tests/test_ivf_store.py) — this is how an IVF
    index takes inserts between periodic retrains. Refuses a model
    version other than the one in the manifest (appending rows routed
    under a different projection would corrupt the index silently).
    Duplicate vec_ids are the caller's contract, as in any append-only
    inverted file. Returns the updated manifest."""
    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    recover_retrain(path)
    manifest = read_manifest(path)  # a completed install may bump it
    want = model_version(qe, qw)
    if want != manifest["model_version"]:
        raise ValueError(
            f"PCA model version mismatch: index at {path!r} was built "
            f"with model {manifest['model_version']} but the caller "
            f"holds {want} — a cross-version append would corrupt the "
            "index; rebuild with write_ivf_index instead"
        )
    spark = new_vectors.sparkSession
    vecs = new_vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        n_dead = vecs.join(F.broadcast(tomb), "vec_id", "inner").count()
        if n_dead:
            raise ValueError(
                f"{n_dead} incoming vec_id(s) are tombstoned in the "
                f"index at {path!r}: the search-side anti-join would "
                "silently suppress the re-inserted rows. Run "
                "compact_ivf_index first, then append."
            )
    parr = pca_project_array(vecs, qe)
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    assign = assign_clusters(parr, cents, id_col="vec_id", vec_col="pvec").select(
        "vec_id", F.col("cluster_id").alias("cell")
    )
    inv = (
        vecs.withColumn("nrm", F.expr(norm_sql("embedding")))
        .filter(F.col("nrm") > 0)
        .join(assign, "vec_id")
        .select("vec_id", "embedding", "nrm", "cell")
    )
    inv.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "index")
    )
    written = spark.read.parquet(os.path.join(path, "index"))
    manifest["n_rows"] = written.count()
    manifest["index_schema"] = written.schema.jsonValue()
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))
    return manifest


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _read_index(spark: SparkSession, path: str) -> DataFrame:
    """Read {path}/index, tolerating the EMPTY index a full-tombstone
    compaction legitimately produces (ADVICE r9 #4): an all-rows-deleted
    compact stages a write with no part files (_SUCCESS only), so plain
    ``spark.read.parquet`` would fail schema inference. The manifest
    records the read-side index schema (``index_schema``, stored at
    build/append/compact time), so an empty directory reads as an empty
    frame with the right shape instead of erroring."""
    idx = os.path.join(path, "index")
    has_files = os.path.isdir(idx) and any(
        n.startswith("cell=") or n.startswith("part-")
        for n in os.listdir(idx)
    )
    if has_files:
        return spark.read.parquet(idx)
    manifest = read_manifest(path)
    schema_json = (manifest or {}).get("index_schema")
    if schema_json is None:
        # pre-r10 manifest with a genuinely missing/empty index: keep the
        # original (loud) read error rather than guessing a schema
        return spark.read.parquet(idx)
    from pyspark.sql.types import StructType

    if isinstance(schema_json, str):
        schema_json = json.loads(schema_json)
    return spark.createDataFrame([], StructType.fromJson(schema_json))


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    qe,
    qw=None,
    top_k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank): approximate top-k from
    the PERSISTED index alone — no rebuild. Routing runs in the PCA
    subspace (project the queries with ``qe``, nearest ``n_probe``
    centroids from the persisted table); candidates come from a
    partition-pruned scan of exactly the probed cells; scores are EXACT
    64-dim cosine (reduced-space error can reorder the candidate set,
    never the scores).

    Raises ValueError when ``qe``'s version differs from the model the
    index was built with (see module docstring — silent cross-version
    search returns plausible-but-wrong neighbors)."""
    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    # READ-ONLY entry point: never repair (renames/rmtrees would race a
    # concurrent reader — ADVICE r10 #2); detect a torn retrain install
    # and fail loudly instead of reading mixed index/centroid versions.
    _check_no_torn_retrain(path)
    want = model_version(qe, qw)
    if want != manifest["model_version"]:
        raise ValueError(
            f"PCA model version mismatch: index at {path!r} was built "
            f"with model {manifest['model_version']} but the caller "
            f"holds {want} — rebuild the index (write_ivf_index) or "
            "reload the matching model before searching"
        )
    from .clustering import sqdist_sql

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qnrm", F.expr(norm_sql("qv"))).filter(F.col("qnrm") > 0)
    qp = pca_project_array(
        qv.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding")),
        qe,
    ).select(F.col("vec_id").alias("query_id"), "pvec")
    routing = (
        qv.join(qp, "query_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("__d", F.expr(sqdist_sql("pvec", "cvec")))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("__d", "cid")
            ),
        )
        .filter(F.col("__rk") <= n_probe)
        .select("query_id", "qv", "qnrm", F.col("cid").alias("cell"))
        # n_query x n_probe rows by construction: checkpoint once so the
        # driver-side cell listing below doesn't recompute the routing
        # plan a second time for the candidate join
        .localCheckpoint(eager=True)
    )
    # the probed cells are known driver-side -> STATIC partition filter:
    # the index scan reads only those cells' partitions (PartitionFilters
    # in the plan; unprobed cells cost zero I/O at any corpus size)
    probed = sorted({r["cell"] for r in routing.select("cell").distinct().collect()})
    idx = _read_index(spark, path).filter(
        F.col("cell").isin([int(c) for c in probed])
    )
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        # tombstones are bounded between compactions (the delete log,
        # not the corpus) -> broadcast anti-join, map-side
        idx = idx.join(F.broadcast(tomb), "vec_id", "left_anti")
    cand = (
        idx.join(F.broadcast(routing), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.expr(dot_sql("embedding", "qv"))
                / (F.col("nrm") * F.col("qnrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
    )


# ---------------------------------------------------------------------
# Deletes: tombstone log + compaction (completes the index lifecycle:
# build -> append -> delete -> compact -> search, all between drains).
# ---------------------------------------------------------------------

_TOMB_DIR = "tombstones"
_INDEX_NEW = "index.compact_new"
_INDEX_OLD = "index.compact_old"


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    p = os.path.join(path, _TOMB_DIR)
    if not os.path.isdir(p) or not any(
        n.endswith(".parquet") or n.startswith("part-")
        for n in os.listdir(p)
    ):
        return None
    return spark.read.parquet(p).select("vec_id").distinct()


def delete_from_ivf_index(spark: SparkSession, path: str, ids) -> dict:
    """Mark vectors deleted WITHOUT rewriting any cell partition: append
    their ids to the tombstone log. Search anti-joins the (broadcast,
    delete-log-bounded) tombstones; the rows physically disappear at the
    next :func:`compact_ivf_index`. ``ids`` is an iterable of vec_ids or
    a DataFrame with a ``vec_id`` column. Deleting an absent id is a
    no-op by construction (anti-join semantics). Returns the manifest
    updated with ``n_tombstones``."""
    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    # ADVICE r10 #1: delete is a WRITE path and must complete a torn
    # retrain install BEFORE appending tombstones — otherwise the log is
    # written against the superseded index and a later lifecycle call
    # installing the staged version would strand (or, pre-fix, delete)
    # it, silently resurrecting the deleted vectors.
    recover_retrain(path)
    manifest = read_manifest(path)  # a completed install may bump it
    if isinstance(ids, DataFrame):
        df = ids.select(F.col("vec_id").cast("long"))
    else:
        df = spark.createDataFrame(
            [(int(i),) for i in ids], "vec_id long"
        )
    df.write.mode("append").parquet(os.path.join(path, _TOMB_DIR))
    tomb = _read_tombstones(spark, path)
    manifest["n_tombstones"] = 0 if tomb is None else tomb.count()
    _write_manifest(path, manifest)
    return manifest


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))


def recover_ivf_compaction(path: str) -> str:
    """Repair an interrupted :func:`compact_ivf_index` (call before any
    maintenance; compact calls it automatically):

    * ``index`` present + ``index.compact_new`` present -> the swap
      never started; the staged copy may be incomplete -> drop it.
    * ``index`` ABSENT + ``index.compact_new`` present -> crash between
      the two renames; the staged copy is complete by phase order ->
      promote it. Tombstones may still exist and simply re-filter
      already-removed rows (idempotent).
    * ``index.compact_old`` present -> the swap finished -> drop the
      old copy (and the now-applied tombstones).
    """
    import shutil

    idx = os.path.join(path, "index")
    new = os.path.join(path, _INDEX_NEW)
    old = os.path.join(path, _INDEX_OLD)
    actions = []
    if os.path.isdir(new):
        if os.path.isdir(idx):
            shutil.rmtree(new)
            actions.append("dropped-stale-staging")
        else:
            os.rename(new, idx)
            actions.append("promoted-staged-index")
    if os.path.isdir(old):
        if os.path.isdir(idx):
            # the surviving index already has the deletes applied (it is
            # the staged copy), so the tombstone log folds away with the
            # old copy
            shutil.rmtree(old)
            tomb = os.path.join(path, _TOMB_DIR)
            if os.path.isdir(tomb):
                shutil.rmtree(tomb)
            actions.append("dropped-old-index")
        else:  # old exists, index missing, no staging: swap failed early
            os.rename(old, idx)
            actions.append("restored-old-index")
    return ",".join(actions) if actions else "clean"


def compact_ivf_index(spark: SparkSession, path: str) -> dict:
    """Physically remove tombstoned rows: rewrite the live rows to a
    staged directory, swap it in with two renames, then clear the
    tombstone log. Crash-safe via :func:`recover_ivf_compaction` —
    phases ordered so the staged copy is complete before the first
    rename, and tombstones are cleared only after the swap (re-filtering
    already-removed rows is a no-op). Single-writer contract: no append
    or delete may run concurrently. Returns the updated manifest."""
    import shutil

    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    recover_retrain(path)
    manifest = read_manifest(path)
    recover_ivf_compaction(path)
    idx_path = os.path.join(path, "index")
    tomb = _read_tombstones(spark, path)
    if tomb is None:
        # nothing to fold — but a recovery may just have applied the log
        # (dropped-old-index path), so re-sync the manifest counters
        if manifest.get("n_tombstones"):
            manifest["n_rows"] = _read_index(spark, path).count()
            manifest["n_tombstones"] = 0
            _write_manifest(path, manifest)
        return manifest
    src = _read_index(spark, path)
    live = src.join(F.broadcast(tomb), "vec_id", "left_anti")
    # Persist the read-side schema BEFORE the swap: if every row is
    # tombstoned the staged write has no part files (_SUCCESS only) and
    # the empty index is only readable through the manifest schema
    # (ADVICE r9 #4 — _read_index). Writing it early is safe: the field
    # is purely descriptive and the counters are re-synced below.
    manifest["index_schema"] = src.schema.jsonValue()
    _write_manifest(path, manifest)
    new = os.path.join(path, _INDEX_NEW)
    live.write.mode("overwrite").partitionBy("cell").parquet(new)
    old = os.path.join(path, _INDEX_OLD)
    os.rename(idx_path, old)
    os.rename(new, idx_path)
    shutil.rmtree(old)
    shutil.rmtree(os.path.join(path, _TOMB_DIR))
    manifest["n_rows"] = _read_index(spark, path).count()
    manifest["n_tombstones"] = 0
    _write_manifest(path, manifest)
    return manifest


def ivf_index_stats(spark: SparkSession, path: str) -> dict:
    """Index health report for the persisted inverted file — the
    numbers an operator watches to schedule retrains/compactions:

    * ``n_cells_used`` / ``k_cells`` — empty cells mean wasted routing
      fan-out;
    * ``max_cell_fraction`` — the hot-cell share of all rows. Routing
      cost is probed-cells-scan-bound, so one cell holding 30% of the
      corpus makes every query that probes it pay 0.3 x corpus I/O:
      past ~3x the ideal 1/k share, retrain the centroids;
    * ``tombstone_fraction`` — deleted-but-unfolded rows still scanned
      (and anti-joined away) per search: past ~20%, run
      :func:`compact_ivf_index`;
    * ``imbalance`` — max/mean cell size (1.0 = perfectly balanced).

    One aggregate over the cell-partitioned index; no corpus shuffle
    (cell is the partition column, so the groupBy is partition-local).
    """
    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    # read-only: detect torn installs, never repair (see search_ivf_index)
    _check_no_torn_retrain(path)
    idx = _read_index(spark, path)
    cells = idx.groupBy("cell").agg(F.count("*").alias("n")).collect()
    sizes = sorted((int(r["n"]) for r in cells), reverse=True)
    total = sum(sizes)
    tomb = _read_tombstones(spark, path)
    n_tomb = 0 if tomb is None else tomb.count()
    mean = total / len(sizes) if sizes else 0.0
    return {
        "n_rows": total,
        "n_cells_used": len(sizes),
        "k_cells": int(manifest["k_cells"]),
        "max_cell_rows": sizes[0] if sizes else 0,
        "max_cell_fraction": (sizes[0] / total) if total else 0.0,
        "imbalance": (sizes[0] / mean) if mean else 0.0,
        "n_tombstones": int(n_tomb),
        "tombstone_fraction": (n_tomb / total) if total else 0.0,
        "model_version": manifest["model_version"],
        "index_version": int(manifest.get("index_version", 1)),
    }


# ---------------------------------------------------------------------
# Retrain actuator (VERDICT r9 directive #4): consume the stats
# thresholds, rebuild centroids with Lloyd refinement, reassign every
# cell, install as a new index_version. Completes the closed loop:
# stats observe drift -> retrain repairs it.
# ---------------------------------------------------------------------

_RETRAIN_STAGING = ".retrain_staging"
_RETRAIN_OLD_SUFFIX = ".retrain_old"


def _check_no_torn_retrain(path: str) -> None:
    """Read-side guard (ADVICE r10 #2): raise if a retrain install is
    torn in a way a reader could observe inconsistently — a staged
    build whose manifest is written (= authoritative, waiting to
    install) or a half-swapped install (displaced ``*.retrain_old``
    dirs). Readers must NOT repair (renames would race other readers);
    a write-path entry point (append/delete/compact/retrain) or an
    explicit :func:`recover_retrain` completes the install. Staging
    WITHOUT a manifest is incomplete garbage that never touched the
    live index — safe to read through."""
    staged_manifest = os.path.join(path, _RETRAIN_STAGING, MANIFEST_NAME)
    displaced = [
        name + _RETRAIN_OLD_SUFFIX
        for name in ("index", "centroids")
        if os.path.isdir(os.path.join(path, name + _RETRAIN_OLD_SUFFIX))
    ]
    if os.path.exists(staged_manifest) or displaced:
        raise RuntimeError(
            f"IVF index at {path!r} has a torn retrain install "
            f"(staged manifest present: {os.path.exists(staged_manifest)}, "
            f"displaced dirs: {displaced or 'none'}); run recover_retrain "
            "or any write-path entry point (append/delete/compact/"
            "retrain) to complete it before reading"
        )


def recover_retrain(path: str) -> str:
    """Repair an interrupted :func:`retrain_ivf_index`. The staged
    manifest is written LAST, so: staging without a manifest is
    incomplete garbage (drop it — the live index was never touched);
    staging WITH a manifest is authoritative (finish installing each
    piece idempotently). Returns 'clean' / 'dropped' / 'completed'."""
    import shutil

    staging = os.path.join(path, _RETRAIN_STAGING)
    if not os.path.isdir(staging):
        # a crash between installs can leave only the displaced old dirs
        for name in ("index", "centroids"):
            old = os.path.join(path, name + _RETRAIN_OLD_SUFFIX)
            if os.path.isdir(old):
                if os.path.isdir(os.path.join(path, name)):
                    shutil.rmtree(old)  # install finished; drop the old copy
                else:  # staged piece lost mid-install: restore the old one
                    os.rename(old, os.path.join(path, name))
        return "clean"
    staged_manifest = os.path.join(staging, MANIFEST_NAME)
    if not os.path.exists(staged_manifest):
        shutil.rmtree(staging)
        return "dropped"
    for name in ("index", "centroids"):
        staged = os.path.join(staging, name)
        live = os.path.join(path, name)
        old = live + _RETRAIN_OLD_SUFFIX
        if os.path.isdir(staged):
            if os.path.isdir(live):
                os.rename(live, old)
            os.rename(staged, live)
        if os.path.isdir(old):
            shutil.rmtree(old)
    os.replace(staged_manifest, os.path.join(path, MANIFEST_NAME))
    # ADVICE r10 #1: PRESERVE any tombstone log. retrain compacts (which
    # clears the log) before staging, so a log present at install time
    # can only hold deletes appended AFTER the staged rebuild was
    # computed — they are NOT folded into the staged index and must keep
    # anti-joining it (their vec_ids exist in the staged index too, since
    # appends are barred between staging and install by the single-writer
    # contract). The pre-fix rmtree here silently resurrected them.
    shutil.rmtree(staging)
    return "completed"


def retrain_ivf_index(
    spark: SparkSession,
    path: str,
    qe,
    qw=None,
    lloyd_iters: int = 3,
    max_cell_fraction: float | None = 0.3,
    max_imbalance: float | None = 3.0,
    force: bool = False,
) -> dict:
    """Rebuild the inverted file's centroids and cell assignment when
    the index has drifted out of shape, as a NEW index version.

    The actuator half of :func:`ivf_index_stats`: retraining triggers
    when ``max_cell_fraction`` or ``imbalance`` exceeds its threshold
    (or ``force=True``); otherwise it is a cheap no-op returning the
    stats with ``retrained=False``. On trigger: tombstones are folded
    first (:func:`compact_ivf_index`), then the LIVE rows are rebuilt
    through :func:`write_ivf_index` with ``lloyd_iters`` Lloyd rounds
    in the projected space — deterministic (quantized-mean recompute,
    smallest-id seeds), so a retrain is BIT-IDENTICAL to a fresh
    refined build over the same live rows (pinned in
    tests/test_ivf_store.py). The PCA model is NOT refit: ``qe``/``qw``
    must match the manifest's model_version (a projection change is a
    write_ivf_index rebuild, not a retrain).

    Crash-safe install: the rebuild stages into
    ``{path}/.retrain_staging`` (manifest last), then each piece swaps
    in via renames; :func:`recover_retrain` (run automatically by every
    WRITE-path entry point — append/delete/compact/retrain; read-only
    entry points detect a torn install and raise instead of repairing)
    completes or discards a torn install.
    Single-writer contract, like compaction. Returns the new manifest
    plus ``retrained``/``trigger`` keys."""
    manifest = read_manifest(path)
    if manifest is None:
        raise FileNotFoundError(f"no IVF index manifest under {path!r}")
    recover_retrain(path)
    manifest = read_manifest(path)  # a completed install may bump it
    want = model_version(qe, qw)
    if want != manifest["model_version"]:
        raise ValueError(
            f"PCA model version mismatch: index at {path!r} was built "
            f"with model {manifest['model_version']} but the caller "
            f"holds {want} — a retrain keeps the projection; rebuild "
            "with write_ivf_index for a new model"
        )
    stats = ivf_index_stats(spark, path)
    trigger = []
    if max_cell_fraction is not None and stats["max_cell_fraction"] > max_cell_fraction:
        trigger.append("max_cell_fraction")
    if max_imbalance is not None and stats["imbalance"] > max_imbalance:
        trigger.append("imbalance")
    if force:
        trigger.append("forced")
    if not trigger:
        return {"retrained": False, "trigger": [], **stats}

    import shutil

    compact_ivf_index(spark, path)
    live = _read_index(spark, path).select("vec_id", "embedding")
    # vec rows must be materialized BEFORE the staged write displaces
    # the files they lazily read from
    live = live.localCheckpoint(eager=True)
    staging = os.path.join(path, _RETRAIN_STAGING)
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    new_manifest = write_ivf_index(
        live,
        qe,
        staging,
        k_cells=int(manifest["k_cells"]),
        qw=qw,
        lloyd_iters=lloyd_iters,
        index_version=int(manifest.get("index_version", 1)) + 1,
    )
    recover_retrain(path)  # manifest is staged: install is authoritative
    return {"retrained": True, "trigger": trigger, **new_manifest}

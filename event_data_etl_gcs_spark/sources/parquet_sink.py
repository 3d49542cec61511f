"""Partitioned Parquet sink.

Reference behaviors reproduced (SURVEY.md §2.1 S5-S7):
  * overwrite-mode partitioned writes
    (``spark-jobs/sparkify_etl.py:50-54,166-170,210-214``),
  * unpartitioned writes (``:70-72,141-143``).

Scale-posture replacements:
  * The reference's ``coalesce(1)`` (``sparkify_etl_2.py:79,107``) is NOT
    the default — it serializes the final stage through one task. We size
    output files by target rows-per-file instead; ``single_file=True``
    remains available for the small-export parity case.
  * Dynamic partition overwrite (set in session.py) so incremental runs
    replace only the partitions they produce.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame


def write_parquet_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    target_partitions: int | None = None,
    single_file: bool = False,
    range_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> None:
    """Parquet write with layout control.

    * ``range_by`` — repartitionByRange on these columns: files cover
      disjoint key ranges (globally clustered output; range predicates
      prune whole files via footer stats).
    * ``sort_within_by`` — sortWithinPartitions before writing: row
      groups inside each file get tight, disjoint min/max stats, so
      range predicates also skip row groups (property pinned in
      tests/test_scale_techniques2.py).
    """
    out = df
    if single_file:
        out = out.coalesce(1)
    elif range_by:
        out = (
            out.repartitionByRange(target_partitions, *range_by)
            if target_partitions
            else out.repartitionByRange(*range_by)
        )
    elif target_partitions is not None:
        if partition_by:
            # Cluster rows by the partition columns so each Hive partition
            # is written by few tasks -> few right-sized files, no
            # small-file explosion at high task counts.
            out = out.repartition(target_partitions, *partition_by)
        else:
            out = out.repartition(target_partitions)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    if partition_by:
        # Dynamic partition overwrite (session.py) commits via a staging
        # dir and skips the _SUCCESS marker; re-emit it so downstream
        # loads keep their commit gate (plans/runner.py is_load_ready).
        # The write HAS committed once writer.parquet() returns.
        if os.path.isdir(path) and not os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            open(os.path.join(path, "_SUCCESS"), "w").close()


def export_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    target_partitions: int | None = None,
) -> None:
    """JSONL export — the interchange format training/eval tooling
    consumes (one JSON object per line, optionally gzipped; Spark's JSON
    sink writes line-delimited JSON natively, one file per partition).

    Same layout posture as the parquet sink: never coalesce(1) by
    default; size output files via target_partitions. Binary columns
    are base64-encoded by Spark's JSON writer; timestamps serialize as
    ISO-8601 in the session timezone (UTC — pinned at load)."""
    out = df.repartition(target_partitions) if target_partitions else df
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def _swap_dirs(path: str) -> tuple[str, str]:
    path = path.rstrip("/")
    return f"{path}.__merge_new__", f"{path}.__merge_old__"


def repair_dir_swap(path: str) -> None:
    """Undo what a crash left of :func:`swap_in_dir` on ``path``: a table
    moved aside goes back (or is dropped, if the new one was already in
    place) and a half-written new directory is removed, so a rerun
    starts from the last complete table. Call it before reading
    ``path``."""
    new, old = _swap_dirs(path)
    if os.path.isdir(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    shutil.rmtree(new, ignore_errors=True)


def swap_in_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace directory ``path`` with what ``write(new)`` writes into
    the sibling ``<path>.__merge_new__``: ``path`` moves aside to
    ``<path>.__merge_old__``, the new directory takes its name, and the
    old one is removed. Readers racing the swap see the old or the new
    listing, not a mix (object-store caveat: rename is copy+delete there
    — use a transactional table format when concurrent readers matter).
    Every swap uses these two names, so :func:`repair_dir_swap` undoes a
    crash between the steps whichever writer it interrupted."""
    new, old = _swap_dirs(path)
    write(new)
    os.rename(path, old)
    os.rename(new, path)
    shutil.rmtree(old)


def _parquet_files(path: str) -> list[str]:
    """Data files of a table directory, through its partition levels.
    Names starting with ``_`` or ``.`` are skipped, as Spark skips them."""
    hidden = ("_", ".")
    files = []
    for d, subdirs, fs in os.walk(path):
        subdirs[:] = [s for s in subdirs if not s.startswith(hidden)]
        files += [
            os.path.join(d, f)
            for f in fs
            if f.endswith(".parquet") and not f.startswith(hidden)
        ]
    return files


def _partition_cols(path: str) -> list[str]:
    """Hive partition columns of a table directory, outermost first, read
    off the first ``col=value`` directory at each level."""
    cols = []
    while True:
        parts = sorted(
            e for e in os.listdir(path)
            if "=" in e and os.path.isdir(os.path.join(path, e))
        )
        if not parts:
            return cols
        cols.append(parts[0].split("=", 1)[0])
        path = os.path.join(path, parts[0])


def compact_parquet_dir(
    spark,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> tuple[int, int]:
    """Compact a directory of too-many-small parquet files into files
    sized near ``target_file_mb`` — the standard maintenance pass for
    streaming/incremental sinks, whose per-batch writes accumulate files
    that degrade scan planning (footer reads) and kill read parallelism
    economics at cluster scale.

    Sizing uses the table's actual on-disk bytes (every partition level),
    so compression ratio is accounted for. A Hive-partitioned table keeps
    its ``col=value`` layout; rows are clustered by the partition columns
    so each partition gets few files. Returns (files_before,
    files_after). The rewrite is swapped in by :func:`swap_in_dir`, and a
    compaction a crash interrupted is repaired on the next call.
    """
    repair_dir_swap(path)
    files = _parquet_files(path)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    swap_in_dir(
        path,
        lambda new: write_parquet_table(
            df,
            new,
            partition_by=_partition_cols(path),
            target_partitions=n_out,
            sort_within_by=sort_within_by,
        ),
    )
    return len(files), len(_parquet_files(path))


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    target_partitions: int = 8,
    mode: str = "overwrite",
    bits: int = 16,
) -> None:
    """Z-order (Morton-curve) clustered write: interleave the bits of the
    z-columns' range-scaled ranks and range-partition + sort by that key.
    Each output file then covers a small HYPER-RECTANGLE of the combined
    key space, so range predicates on ANY z-column prune files/row-groups
    — where a lexicographic sort only prunes on its leading column.

    The scaling pass computes per-column min/max (one tiny agg, collected
    to literals); the z-key itself is a native bit-arithmetic expression
    — no UDF, no extra shuffle beyond the range partitioner's sampling.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in zorder_by],
        *[F.max(c).alias(f"mx_{c}") for c in zorder_by],
    ).collect()[0]
    n = len(zorder_by)
    parts = []
    for j, c in enumerate(zorder_by):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = max(int(mx) - int(mn), 1)
        scaled = (
            f"((CAST({c} AS BIGINT) - {int(mn)}L) * {(1 << bits) - 1}L "
            f"DIV {span}L)"
        )
        # bit i of the scaled rank lands at interleaved position i*n + j;
        # let-bound so the scaling arithmetic evaluates once per row
        parts.append(
            f"element_at(transform(array({scaled}), s -> "
            f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> "
            f"acc + ((s div shiftleft(1L, i)) % 2) "
            f"* shiftleft(1L, i * {n} + {j}))), 1)"
        )
    z = F.expr(" + ".join(parts))
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(target_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode(mode).parquet(path)


def _path_render(p) -> str | None:
    """Render a collected partition VALUE the way Spark renders it in a
    hive path (before %-escaping). ``str()`` alone diverges for
    booleans — Spark writes ``col=true`` but ``str(True)`` is
    ``'True'`` — so a fully-vacated boolean partition directory would
    never match and its stale rows resurface on the next read
    (ADVICE r6). Floats are NOT matched through this function — their
    renderings diverge in the scientific range ('1.0E-5' vs '1e-05');
    :func:`_float_dir_match` compares them numerically instead
    (ADVICE r7)."""
    if p is None:
        return None
    if isinstance(p, bool):
        return "true" if p else "false"
    return str(p)


def _float_dir_match(p: float, raw_values: list) -> str | None:
    """Match a float partition VALUE against decoded directory strings
    NUMERICALLY: Java's Double.toString renders e.g. 1e-5 as '1.0E-5'
    while Python str gives '1e-05' (and Java 17 pre-Ryu is not always
    shortest-round-trip), so string equality silently misses scientific-
    range float partitions and their stale rows resurface (ADVICE r7).
    Parsing the directory's rendered value back to float is exact for
    every round-trippable rendering, whatever convention wrote it."""
    import math

    for raw in raw_values:
        if raw is None:
            continue
        try:
            v = float(raw)
        except ValueError:
            continue
        if v == p or (math.isnan(v) and math.isnan(p)):
            return raw
    return None


def _partition_match(partition_col: str, values: list):
    """Row-level predicate matching the given partition values —
    INCLUDING null. A bare ``isin(values)`` never matches NULL (SQL
    three-valued logic), so when the null partition is affected the
    sub-scan would silently exclude its rows: they'd be missing from
    the rewrite AND from the survivor set, and the whole
    ``__HIVE_DEFAULT_PARTITION__`` directory would then be rmtree'd —
    destroying non-matching rows (ADVICE r6, data loss)."""
    from pyspark.sql import functions as F

    non_null = [v for v in values if v is not None]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        pred = pred | F.col(partition_col).isNull()
    return pred


def _vacated_partition_dirs(
    table_dir: str, partition_col: str, parts: list
) -> list[str]:
    """On-disk hive directories for the given partition VALUES, resolved
    by listing and unescaping actual directory names rather than
    rebuilding them with an f-string: Spark %-escapes special characters
    in partition paths (ExternalCatalogUtils.escapePathName) and renders
    null as __HIVE_DEFAULT_PARTITION__, so a raw ``col=value`` string
    misses those directories, leaving stale rows that resurface on the
    next read. Matching on the DECODED value sidesteps the escaping
    table entirely; collected values go through :func:`_path_render`
    so types whose Python ``str()`` diverges from Spark's rendering
    (booleans) still match."""
    from urllib.parse import unquote

    prefix = partition_col + "="
    try:
        entries = os.listdir(table_dir)
    except FileNotFoundError:
        return []
    by_value: dict[str | None, str] = {}
    for e in entries:
        if not e.startswith(prefix):
            continue
        raw = e[len(prefix):]
        val = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        by_value[val] = os.path.join(table_dir, e)
    out = []
    for p in parts:
        if isinstance(p, float):
            key = _float_dir_match(p, list(by_value.keys()))
            # No numerically matching directory: skip. Falling through
            # would look None up in by_value, where None is the KEY of
            # the __HIVE_DEFAULT_PARTITION__ directory — delete_where
            # would then rmtree the null partition while it still holds
            # live rows (ADVICE r8, silent data loss).
            if key is None:
                continue
        else:
            key = _path_render(p)
        if key in by_value:
            out.append(by_value[key])
    return out


def delete_where(
    spark,
    table_dir: str,
    predicate: str,
    partition_col: str,
) -> int:
    """DML DELETE on a hive-partitioned parquet table without a table
    format: the anti-join + dynamic-partition-overwrite shape that
    Delta/Iceberg MERGE DELETE compiles to.

    1. Find the partitions containing matching rows (partition-pruned
       aggregate — at 100 TB this touches only the predicate columns).
    2. Re-read ONLY those partitions, drop matching rows, and rewrite
       them under dynamic partition overwrite — untouched partitions'
       files are never read or rewritten (tested byte-identical).
    3. A partition whose EVERY row matched produces no output rows, so
       dynamic overwrite would leave it stale — those are removed
       explicitly (the table-format equivalent is a delete manifest).

    Returns the number of rows deleted."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(table_dir)
    affected = [
        r[0]
        for r in df.filter(predicate).select(partition_col).distinct().collect()
    ]
    if not affected:
        return 0
    sub = df.filter(_partition_match(partition_col, affected))
    n_before = sub.count()
    keep = sub.filter(f"NOT ({predicate})")
    n_after = keep.count()
    survivors = {
        r[0] for r in keep.select(partition_col).distinct().collect()
    }
    # dynamic partition overwrite: only partitions present in `keep` are
    # replaced (session.py pins partitionOverwriteMode=dynamic)
    if survivors:
        keep.write.mode("overwrite").partitionBy(partition_col).parquet(table_dir)
    vacated = [p for p in affected if p not in survivors]
    for d in _vacated_partition_dirs(table_dir, partition_col, vacated):
        shutil.rmtree(d, ignore_errors=True)
    return n_before - n_after


def merge_into(
    spark,
    table_dir: str,
    source: DataFrame,
    key_cols: list[str],
    partition_col: str,
    validate_source_keys: bool = True,
) -> tuple[int, int]:
    """MERGE INTO (upsert) on a hive-partitioned parquet table: rows of
    `source` matching a target row on `key_cols` REPLACE it; the rest
    INSERT — the whole-row form Delta/Iceberg MERGE compiles to when
    every column updates.

    Partition-pruned like delete_where/update_where: the rewrite touches
    only (a) partitions holding a matched target row — found with a
    key-join over a scan column-pruned to keys + partition — and (b)
    partitions receiving inserts. A matched key whose source row carries
    a DIFFERENT partition value moves partitions correctly because both
    the old and new partition are in the affected set. Untouched
    partitions' files are never read or rewritten.

    The source is eagerly localCheckpointed at entry: a lazy source
    derived from the TARGET table (the typical MERGE shape) would
    otherwise be re-executed against the rewritten table by the write
    and the post-write counts — a read-overwrite hazard that silently
    corrupts both the merge and the returned numbers.

    ``validate_source_keys`` also validates that the AFFECTED target
    partitions are key-unique: with duplicate target keys, "rows
    updated" is ill-defined (one source row replaces several target
    rows) and n_inserted could go negative.

    Returns (n_updated, n_inserted)."""
    from pyspark.sql import functions as F

    source = source.localCheckpoint(eager=True)
    n_source = source.count()
    if validate_source_keys:
        dup = (
            source.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "merge_into source has duplicate keys: the rewrite would "
                "be nondeterministic; dedupe the source first"
            )
    target = spark.read.parquet(table_dir)
    # affected = target partitions with a matched key (column-pruned key
    # scan) ∪ source partitions (inserts + cross-partition key moves)
    matched_parts = (
        target.select(*key_cols, partition_col)
        .join(source.select(*key_cols), key_cols, "left_semi")
        .select(partition_col)
        .distinct()
    )
    src_parts = source.select(partition_col).distinct()
    affected = [
        r[0] for r in matched_parts.unionByName(src_parts).distinct().collect()
    ]
    if not affected:
        return (0, 0)
    sub = target.filter(_partition_match(partition_col, affected))
    if validate_source_keys:
        tdup = (
            sub.groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if tdup:
            raise ValueError(
                "merge_into target has duplicate keys in an affected "
                "partition: updated/inserted counts would be ill-defined; "
                "dedupe the target or merge on a unique key"
            )
    n_updated = sub.join(source.select(*key_cols), key_cols, "left_semi").count()
    kept = sub.join(source.select(*key_cols), key_cols, "left_anti")
    out = kept.unionByName(source.select(*target.columns))
    # dynamic partition overwrite (session.py pins it) rewrites only the
    # partitions present in `out`; a partition fully vacated by
    # cross-partition key moves yields no output rows and must be removed
    # explicitly, exactly like delete_where's empty-partition case
    survivors = {r[0] for r in out.select(partition_col).distinct().collect()}
    if survivors:
        out.write.mode("overwrite").partitionBy(partition_col).parquet(table_dir)
    vacated = [p for p in affected if p not in survivors]
    for d in _vacated_partition_dirs(table_dir, partition_col, vacated):
        shutil.rmtree(d, ignore_errors=True)
    # n_source was counted from the checkpointed source BEFORE the write:
    # a lazy count here would re-scan the rewritten table for
    # target-derived sources and return garbage.
    return (n_updated, n_source - n_updated)


def update_where(
    spark,
    table_dir: str,
    predicate: str,
    set_exprs: dict[str, str],
    partition_col: str,
) -> int:
    """DML UPDATE on a hive-partitioned parquet table: rewrite matching
    rows with `set_exprs` (column -> SQL expression over the row),
    touching only the partitions that contain matches — same
    partition-pruned dynamic-overwrite shape as delete_where. The
    partition column itself cannot be updated (that's a delete+insert,
    a different operation with different pruning). Returns rows updated."""
    from pyspark.sql import functions as F

    if partition_col in set_exprs:
        raise ValueError(
            "update_where cannot change the partition column; "
            "delete + append instead"
        )
    df = spark.read.parquet(table_dir)
    affected = [
        r[0]
        for r in df.filter(predicate).select(partition_col).distinct().collect()
    ]
    if not affected:
        return 0
    sub = df.filter(_partition_match(partition_col, affected))
    n_updated = sub.filter(predicate).count()
    match = F.expr(predicate)
    updated = sub.withColumns(
        {
            col: F.when(match, F.expr(expr)).otherwise(F.col(col))
            for col, expr in set_exprs.items()
        }
    )
    updated.write.mode("overwrite").partitionBy(partition_col).parquet(table_dir)
    return n_updated

#!/usr/bin/env python3
"""Regenerate the auto-generated query table at the end of COVERAGE.md."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MARK = "## Full query inventory (auto-generated from the registry)"


def main() -> None:
    from event_data_etl_gcs_spark.queries import all_queries

    rows = []
    for name, spec in sorted(all_queries().items()):
        doc = " ".join((spec.doc or "").split())
        if len(doc) > 110:
            doc = doc[:107] + "..."
        check = "exact oracle" if spec.oracle else "rows-only"
        rows.append(f"| `{name}` | {check} | {doc} |")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    head = open(path).read().split(MARK)[0]
    with open(path, "w") as f:
        f.write(head + MARK + "\n\n")
        f.write(f"{len(rows)} registered queries.\n\n")
        f.write("| query | check | what it covers |\n|---|---|---|\n")
        f.write("\n".join(rows) + "\n")
        f.write(NON_QUERY)
    print(f"wrote {len(rows)} queries to COVERAGE.md")


# Capabilities with no queries() form (streaming semantics, write
# layouts): inventoried here with the test that proves each.
NON_QUERY = """
## Non-query capabilities (proven by tests, not oracle rows)

| capability | where | proof |
|---|---|---|
| Incremental ingest: file source + Available-Now + watermark dedup + foreachBatch MERGE-upsert fan-out | `streaming/incremental.py` | `test_sparkify_incremental.py` (cross-run upsert, two rounds == batch, crash replay) |
| `dropDuplicatesWithinWatermark` dedup mode | `streaming/incremental.py` | `test_sparkify_incremental.py::test_dedup_within_watermark_collapses_resends` |
| Incremental near-dedup operator (persisted signature table) | `operators/dedup.py` | `test_training_ops.py` parquet round-trip + oracle row |
| IVF inverted file: build / append / query persisted | `operators/ivf.py` | `test_ivf.py` (append == rebuild, recall gates) |
| Schema evolution: mergeSchema, per-partition, superset hot path | `sources/catalog.py` | `test_schema_evolution.py` |
| Small-file compaction (size-targeted rewrite + swap) | `sources/parquet_sink.py` | `test_schema_evolution.py` |
| Range-clustered + in-file-sorted parquet layout | `sources/parquet_sink.py` | `test_scale_techniques2.py` (disjoint file/row-group stats) |
| Z-order clustered layout (multi-column pruning) | `sources/parquet_sink.py` | `test_scale_techniques2.py` + SCALE.md (7/32 row groups) |
| JSONL training-data export (gzipped, sized files) | `sources/parquet_sink.py` | `test_schema_evolution.py` round-trip |
| Bucketed tables (shuffle-free repeated joins) | `sources/bucketed.py` | `test_scale_techniques.py` (no-Exchange plan) |
| Corrupt-record dead-letter JSON ingest | `sources/json_source.py` | `test_sparkify_pipeline.py` |
| Pipeline runner: stage DAG, quarantine, `_SUCCESS`-gated warehouse load | `plans/runner.py` | `test_runner.py` |
| Versioned snapshot tables: copy-on-write time travel, keyed content-hash diff, vacuum | `sources/versioned.py` | `test_versioned.py` |
| Write-audit-publish: stage -> observe-audited -> atomic pointer publish / abort | `sources/versioned.py` + `plans/quality_hooks.py` | `test_versioned.py::test_write_audit_publish` |
| Diff-driven incremental view maintenance (O(changed rows), exact) | `sources/versioned.py` `maintain_sum_count` | `test_versioned.py` |
| Cross-system orderless partition checksums (migration validation) | `operators/validation.py` | `test_validation.py` + oracle row `orders_partition_checksums` |
| In-flight quality metrics riding the action (`DataFrame.observe`) | `plans/quality_hooks.py` | `test_observability.py` |
| Dynamic partition pruning (runtime subquery on the partitioned scan) | Spark DPP, exercised end-to-end | `test_scale_techniques2.py` |
| ANN-backed kNN graph build (banded SRP candidates, recall-measured) | `operators/graph.py` `knn_edges_ann` | `test_graph.py` (recall vs exact) |
| Perceptual image dHash dedup (map-only, 8 bytes/image state) | `operators/multimodal.py` | `test_multimodal_codecs.py` |
| zlib compression-ratio quality scoring (Arrow-batched mapInPandas) | `operators/text.py` `compression_ratio` | `test_training_ops.py` (byte-exact vs zlib) |
| Corpus pipeline v2: dedup + decontamination + cluster-aware split | `plans/training_corpus.py` | `test_training_ops.py::test_corpus_v2_invariants` |
| Persisted IVF append path: frozen-centroid inserts == fresh full build, version-guarded | `operators/ivf_store.py` `append_ivf_index` | `test_ivf_store.py::test_append_equals_fresh_full_build` |
| Persisted IVF deletes: tombstone log + crash-safe compaction (phase-by-phase recovery), append guard against tombstoned ids | `operators/ivf_store.py` `delete_from_ivf_index` / `compact_ivf_index` | `test_ivf_store.py` (delete == reduced-corpus build; crash matrix) |
| IVF index health report: cell balance / hot-cell share / tombstone fraction (retrain & compact scheduling signals) | `operators/ivf_store.py` `ivf_index_stats` | `test_ivf_store.py::test_index_stats_track_lifecycle` |
| Differential SQL fuzzing: generated predicate/group-by/aggregate/window AND join-surface queries (USING/ON x inner/left/right/full, NULLIF null keys, EXISTS/IN semi-anti incl. three-valued NOT IN, self band join) run verbatim on Spark AND DuckDB, exact frame equality (derandomized 220-example suite; caught a real LIKE-vs-= precedence divergence) | `tests/test_fuzz_differential.py` | same |
| Physical-plan regression pins for the LM family (broadcast model joins, array-side bigrams, map-side WindowGroupLimit, forced-SMJ branch bit-identity) | `tests/test_lm_plans.py` | same |
| HTML/boilerplate main-content extraction: native-expression block segmentation + link-density keep rule over a deterministic in-query raw-HTML fixture; map-only plan pinned | `operators/html.py` `queries/html.py` | `test_html_extract.py` + oracle suite |
| Link graph from extracted anchors: href/anchor-text harvest (map-only), domain edge aggregate, oracle-exact scaled-integer domain authority (PageRank over the domain graph) | `queries/linkgraph.py` | `test_linkgraph.py` + oracle suite |
| IVF retrain actuator: stats-threshold trigger, Lloyd-refined centroids (same PCA model), versioned crash-safe install, drift-recall recovery probed | `operators/ivf_store.py` `retrain_ivf_index` | `test_ivf_retrain.py` + SCALE_r10.md §2 |
"""


if __name__ == "__main__":
    main()

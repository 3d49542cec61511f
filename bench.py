#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a WORK-FORCING action
(VERDICT r11 #1): every output column is folded into one single-row
aggregate of max(xxhash64(cast(col AS string))), so Catalyst cannot
prune the per-row expression work of map-only queries the way a bare
count() did (judge-measured undercounts at sf0.1: train_test_split
9.5x, extract_text 5.3x, dedup_simhash 4.4x). Only the one checksum
row reaches the driver — we still measure engine time, not IPC. The
pre-r12 count() numbers are NOT comparable for map-only rows; the
old-vs-new attribution table lives in BUILDER_NOTES.md (round 12).

This is the per-query timing harness at a testdata scale factor. The
repository benchmark, with bounded end-to-end metrics, per-layer traces
and the A/B rule for speed claims, is ``perfbench/`` as declared in
``BENCHMARK.json`` (see ``perfbench/README.md``)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: scan-agg, join-agg topk, multi-join star, windows,
# sessionization, text pipeline, minhash dedup, ANN.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q6_revenue_delta",
    "sessionize",
    "users_latest",
    "rollup_revenue",
    "tumbling_window_counts",
    "token_count",
    "text_quality",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_brute_force",
    "ann_lsh",
    "multimodal_decode",
    "training_corpus_select",
    "asof_join_last_purchase",
    "ann_ivf_cells",
    "term_frequencies",
    "train_test_split",
    "gap_fill_daily_counts",
]

# Extended tier (VERDICT r7 #5): round-7/8 representatives, benched
# locally each round so regressions in the newer surface are caught
# even while the driver keeps its original 22. Enable with
# SPARK_GRAFT_BENCH_TIER=extended (kept opt-in so the driver's
# BENCH_r{N}.json stays round-over-round comparable); ledger rows live
# in SCALE_r8.md / BUILDER_NOTES.md.
BENCH_EXTENDED = [
    "semdedup_prune",
    "dedup_containment_keep",
    "segment_dedup_reconstruct",
    "span_decontaminate",
    "shard_assignment_token_balanced",
    "training_corpus_v3_select",
    "training_corpus_v4_select",
    "pca_project_whiten",
    "pca_ivf_cells",
    "pca_ivf_topk",
    "ivf_persisted_topk",
    "substring_dedup_rebuild",
    "bigram_surprisal_scores",
    "ccnet_quality_buckets",
    "training_corpus_v6_select",
    # round 10: HTML extraction family + the now-exact PageRank
    "extract_text",
    "extract_quality_gate",
    "graph_pagerank",
    # round 11: the ANN-substrate PageRank (VERDICT r10 #1) — the form a
    # user runs at scale; the exact row above stays as the yardstick
    "graph_pagerank_ann",
    # round 12: the canonical-URL frontier family representatives
    "crawl_frontier",
    "anchor_text_profile",
]


def force_result(df) -> None:
    """Execute ``df`` with every output column forced: one single-row
    aggregate of max(xxhash64(cast(col AS string))) per column (the
    probes' checksum-fold pattern, SCALE_r11.md). The cast-to-string
    handles arrays/structs/binary uniformly; the agg is a two-stage
    partial+final at one row, so the action's own overhead is tiny
    (judge-measured ~6% on the mapInPandas row, where pruning can't
    happen anyway)."""
    from pyspark.sql import functions as F

    df.agg(
        *[
            F.max(F.xxhash64(df[c].cast("string"))).alias(f"h{i}")
            for i, c in enumerate(df.columns)
        ]
    ).collect()


def main() -> None:
    # Validate the tier BEFORE paying session startup: any other value
    # (e.g. the typo 'headlines') used to silently select the extended
    # tier AND change the emitted metric name, making round-over-round
    # bench JSON incomparable without warning (ADVICE r8).
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "headline")
    if tier not in ("headline", "extended"):
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_TIER must be 'headline' or 'extended', "
            f"got {tier!r}"
        )

    from event_data_etl_gcs_spark.queries import all_queries
    from event_data_etl_gcs_spark.session import get_spark

    # No maxPartitionBytes override (round 13, VERDICT r12 nit): every
    # testdata file is ONE parquet row group, so no setting can split it
    # — the per-site fan_out rewrite is the working fix, and the 4m
    # override was dead weight that only diverged the bench session from
    # the library defaults. Timing methodology is otherwise unchanged.
    spark = get_spark(app_name="bench")
    specs = all_queries()

    # Warm the JVM/catalog with one trivial action so query 1 doesn't pay
    # session startup.
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    # several runs per query, report the min: run 1 pays JVM JIT + codegen
    # warmup, later runs are the engine's steady-state throughput and reuse
    # the classes run 1 generated (the session's codegen cache holds 1000
    # entries, see session.py). Three timed runs (ADVICE r4) cut min-of-2
    # scheduler noise that made unchanged queries drift ±11% between rounds.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Heavy rows converge instead of stopping at a fixed count (VERDICT
    # r10 #3): a >2 s query still descending at run 3 records an upper
    # bound, not a measurement (r10's semdedup_prune spread [9.79, 5.50,
    # 4.44]). After the minimum runs, rows whose best exceeds HEAVY_SEC
    # keep running until the latest run is within ~10% of the previous
    # one (no longer descending), capped at max_runs.
    max_runs = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "6"))
    # 0.5 s (was 2.0, VERDICT r11 #5): nearly every row now converges
    # min-of-N-until-stable instead of stopping at a fixed count, which
    # shrinks the host-noise floor of the recorded minimum.
    heavy_sec = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_SEC", "0.5"))
    bench_set = BENCH_QUERIES if tier == "headline" else BENCH_EXTENDED
    # Self-attribution (VERDICT r9 #5): three rounds of wall-time
    # disputes were all host noise — record the evidence in-band so any
    # future regression carries its own attribution data: load averages
    # around the run, and every per-query run time (the same-code
    # spread). A quiet host shows load << cpus and tight spreads;
    # a noisy one indicts itself.
    load_before = list(os.getloadavg())
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in bench_set:
        spec = specs[name]
        all_runs = []
        while True:
            t0 = time.perf_counter()
            force_result(spec.fn(spark, SF_DIR))
            all_runs.append(round(time.perf_counter() - t0, 3))
            n = len(all_runs)
            if n < runs:
                continue
            if min(all_runs) <= heavy_sec or n >= max_runs:
                break
            # n >= 2 guard (ADVICE r11): with SPARK_GRAFT_BENCH_RUNS=1 a
            # heavy query reaches this check at n=1, where [-2] raises.
            if n >= 2 and all_runs[-1] >= 0.9 * all_runs[-2]:
                break  # converged: no longer descending by >10%
        timings[name] = min(all_runs)
        spread[name] = all_runs
    load_after = list(os.getloadavg())

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    worst = max(
        (max(v) / min(v) if min(v) > 0 else 1.0) for v in spread.values()
    )
    line = json.dumps(
        {
            "metric": f"{tier}_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "runs_per_query": runs,
            "agg": "min",
            # in-band discontinuity marker (VERDICT r11 #1): rounds <=11
            # used a prunable count(); r12+ force every output column.
            "action": "checksum_fold",
            "heavy_converge": {"heavy_sec": heavy_sec, "max_runs": max_runs},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "host": {
                "cpus": os.cpu_count(),
                "load_before": [round(x, 2) for x in load_before],
                "load_after": [round(x, 2) for x in load_after],
            },
            "runs_spread": spread,
            "spread_worst_max_over_min": round(worst, 2),
        }
    )
    print(line)
    # Optional artifact (VERDICT r8 #7): also write the JSON line to a
    # file so the extended tier gets the same round-over-round
    # regression visibility as the driver's headline artifact, e.g.
    # SPARK_GRAFT_BENCH_OUT=BENCH_extended_r09.json.
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out:
        with open(out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()

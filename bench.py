#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced through full execution with the noop sink
(df.write.format("noop")) — no driver-side collect, no column pruning
shortcut a count() would allow. One shared SparkSession (BASELINE.md's
dominant lever). Each query runs $SPARK_GRAFT_BENCH_REPS times (default 5)
and the MEDIAN is reported — single-shot timings on a shared sandbox swing
1.2-3.6x run-to-run with zero code change (measured r3 vs r4), which is
noise, not signal. Codegen/JIT warmup lands in rep 1 and the median
discards it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_to_clickhouse_schema_spark import registry, schema_to_clickhouse
from parquet_to_clickhouse_schema_spark.session import get_spark

HEADLINE = [
    "q_agg_hash",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_sortmerge",
    "q_join_asof",
    "q_window_rank",
    "q_topk",
    "q_tumbling_window",
    "q_session_window",
    "q_dedup_exact",
    "q_text_stats",
    "q_near_dedup_minhash",
    "q_cosine_topk",
    "q_udf_pandas",
    "q_report_top_orders",
    "q_report_returned_customers",
    # post-r1 surface (added r9 so BENCH deltas see the newer engine too):
    # the most expensive representatives of the r6/r7 families
    "q_substring_dup",
    "q_bpe_train",
    "q_video_frames",
    "q_dedup_ngram",
    "q_report_regional_revenue",
    # r9 additions: the composed dedup decision (most expensive new key)
    "q_dedup_pipeline",
    # r10 additions (VERDICT r9 #8): the two composed r9 ops not yet
    # tracked, so their r-over-r deltas exist from birth
    "q_training_mix_report",
    "q_incremental_near_dedup",
    # r10 additions: the paper-named dedup/mining/layout ops, tracked from
    # birth so r-over-r deltas exist
    "q_semdedup",
    "q_shard_plan",
    "q_hard_negatives",
    # r10 third batch: the retrieval quartet, tracked from birth
    "q_rank_fusion",
    "q_mmr_diversify",
    "q_cluster_balanced_sample",
    "q_bigram_lm_score",
    # r10 fourth batch: the eval/measurement family, tracked from birth
    "q_nb_classifier",
    "q_ann_recall_eval",
    "q_drift_psi",
    "q_maxsim_colbert",
    # r10 fifth batch: the most expensive new analytics/graph/layout ops
    "q_graph_triangles",
    "q_join_pit",
    "q_ngram_novelty",
    "q_zorder_preview",
    # r11 additions: the most expensive new ops, tracked from birth
    "q_ivfpq_verified_topk",
    "q_boilerplate_ngrams",
    "q_weighted_quantile",
    "q_max_concurrency",
    # r15 additions: the gated quantile sketch and bloom-pruned join,
    # tracked from birth
    "q_percentile_verified",
    "q_bloom_prune",
    # r16 additions: the deterministic HLL twin, the unrolled BPE trainer
    # twin, and the DP count release, tracked from birth
    "q_hll_verified",
    "q_bpe_train_verified",
    "q_dp_count_release",
    # r17 additions: the inter-source shingle overlap matrix, the context
    # budget sweep, and the tokenizer fertility report, tracked from birth
    "q_source_jaccard_matrix",
    "q_context_length_sweep",
    "q_tokenizer_fertility",
    "q_source_js_divergence",
    "q_image_dhash_dedup",
    "q_audio_fingerprint_dedup",
    # r18 addition: the per-column storage audit (footer-only)
    "q_column_sizes",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    queries = registry.all_queries()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    times: dict[str, float] = {}

    def median_time(fn) -> float:
        samples = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        return round(statistics.median(samples), 3)

    # Contention sentinel (VERDICT r11 #3): a fixed ~0.3 s warm canary
    # (q_topk through the noop sink) timed before and after the suite, plus
    # os.getloadavg() at both points. The sandbox is shared; whole-suite
    # drifts of 1.2-1.5x with zero code change have shown up twice (r8, r11)
    # and previously had to be adjudicated by hand-rerunning queries. If the
    # after/before canary ratio is far from 1.0 or the load average is high,
    # the round's numbers are machine-labeled as contended, not regressed.
    def canary_time() -> float:
        df = queries["q_topk"](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # 8 discarded warmups: one is not enough — r12's artifact showed the
    # "before" median still riding the JIT/codegen ramp (0.308 s vs 0.135 s
    # after, drift_ratio 0.438 on an otherwise-clean run). A measured r13
    # convergence curve (20 canary reps, fresh session) reached its
    # ~0.17 s plateau at rep 6-8 but kept creeping down for tens of reps
    # (0.136 s at rep 20) — C2 never fully stops. So: warm past the knee,
    # and treat only drift_ratio ABOVE the contended threshold as a
    # machine signal; a ratio somewhat under 1.0 is residual JIT, benign.
    for _ in range(8):
        canary_time()
    # r17 (VERDICT r16 #4): BETWEEN-run host drift. Three same-day r16 runs
    # on identical binaries spanned 66.5-75.9 s while the before/after
    # sentinel stayed clean — the pair detects within-run contention but
    # not the machine simply being ~1.3x slower all day. Fix: interleave
    # the same canary through the suite (one sample after every 5th
    # headline key, plus the boundary samples) and report every per-key
    # median DIVIDED by the run's canary median alongside the raw seconds.
    # Canary-units cancel whole-machine speed shifts, so r-over-r deltas in
    # the normalized figure are plan signal, not host weather. Method and
    # r16-backfill formula documented in BASELINE.md "cross-run noise
    # calibration".
    canary_samples: list[float] = []
    before_samples = [canary_time() for _ in range(3)]
    canary_samples.extend(before_samples)
    sentinel_before = round(statistics.median(before_samples), 3)
    load_before = [round(x, 2) for x in os.getloadavg()]

    # the reference's core op: footer-only DDL (no Spark job expected)
    times["schema_to_clickhouse"] = median_time(
        lambda: schema_to_clickhouse(
            f"{sf_dir}/lineitem.parquet", "lineitem", "l_orderkey"
        )
    )

    for i, name in enumerate(HEADLINE):
        # plan construction is inside the timer: run() builds the DataFrame,
        # so the Spark jobs a build fires are timed too; re-built per rep so
        # no rep benefits from a previous rep's materialized AQE plan
        def run(name=name):
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()

        times[name] = median_time(run)
        if (i + 1) % 5 == 0:
            canary_samples.append(canary_time())

    after_samples = [canary_time() for _ in range(3)]
    canary_samples.extend(after_samples)
    sentinel_after = round(statistics.median(after_samples), 3)
    load_after = [round(x, 2) for x in os.getloadavg()]

    total = round(sum(times.values()), 3)
    canary_median = statistics.median(canary_samples)
    drift_ratio = round(sentinel_after / max(sentinel_before, 1e-9), 3)
    # Full payload — per-key canary units, sentinel detail, load averages —
    # goes to a FILE, not stdout. The driver captures only the last ~2000
    # chars of stdout, and r17's combined raw+normalized line overflowed it
    # (BENCH_r17.json parsed: null — VERDICT r17 What's-wrong #1). The
    # normalized per-key figures are still first-class: compare
    # BENCH_NORMALIZED.json canary units across rounds when hosts may
    # differ; raw seconds remain the BASELINE.md anchor currency.
    full = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "reps": reps,
        "sf": sf,
        "normalized": {
            "canary_median_sec": round(canary_median, 4),
            "canary_samples": len(canary_samples),
            "value_canary_units": round(total / canary_median, 1),
            "queries_canary_units": {
                k: round(v / canary_median, 2) for k, v in times.items()
            },
        },
        "sentinel": {
            "canary_query": "q_topk",
            "before_sec": sentinel_before,
            "after_sec": sentinel_after,
            "drift_ratio": drift_ratio,
            # the signal this sentinel exists for: ANOTHER process ate the
            # machine mid-suite. Ratios under 1.0 are residual JIT
            # warm-down and carry no meaning.
            "contended": drift_ratio > 1.3,
            "loadavg_before": load_before,
            "loadavg_after": load_after,
        },
    }
    norm_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_NORMALIZED.json"
    )
    with open(norm_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    # Compact machine line LAST, sized well under the driver's capture
    # budget: raw per-key seconds at 2 decimals, scalar normalized summary,
    # and a pointer to the full normalized block.
    compact = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in times.items()},
        "reps": reps,
        "sf": sf,
        "canary_median_sec": round(canary_median, 4),
        "value_canary_units": round(total / canary_median, 1),
        "drift_ratio": drift_ratio,
        "contended": drift_ratio > 1.3,
        "normalized_file": "BENCH_NORMALIZED.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: never overflow the capture again
        compact.pop("queries")
        compact["queries_file"] = "BENCH_NORMALIZED.json"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

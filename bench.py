#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], one warm-up + timed runs per query,
printing exactly ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is the total of the per-query medians — the headline number the
driver compares to BASELINE. Keep the session warm across queries (the
reference is an embedded engine with zero per-query process cost; Spark's
equivalent is one long-lived SparkSession, SURVEY.md §6).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from duckdb_pgwire_spark import registry  # noqa: E402
from duckdb_pgwire_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# r18 (VERDICT r17 item 7): the whole bench is median-of-5, one
# uniform estimator for every entry: one warm-up + N timed runs, median
# per query. Same-harness comparison run vs the median-of-3 baseline
# recorded in OPTIMIZATION_r18.md (totals agree within the ambient
# band; no entry moves by more than the documented noise).
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Queries whose first (warm-up) execution builds a persisted index that
# steady-state serving amortizes (k-means centroids, LSH band parquet).
# The warm-up second is REAL one-time cost — reported separately so it
# stays visible and can't silently regress (r6 verdict item 8).
INDEX_WARMUP = {
    "dedup_semantic_kmeans",
    "sim_ivf_probe",
    "dedup_incremental_vs_index",
    "text_dsir_weights",
    "sample_dsir_gumbel_topk",
}

# Queries returning O(input) rows, where the bench.py collect() makes
# the measured wall ~90% driver-side Arrow transfer at sf1 (r16 noop-
# sink splits: plans scale 1.8-3.2x at 16x data while collect walls
# scale 8.6-16.3x). A noop-sink wall rides bench_full.json next to the
# collect wall so a PLAN regression stays visible through the transfer
# noise (r17, VERDICT item 5). The stdout contract line is unchanged.
# r18: + stream_session_window — 99,233 output rows at sf0.1 (sparse
# user timelines make ~every event its own session), collect 1.1 s vs
# noop 0.38 s; the plan is Spark's minimal MergingSessions shape
# (plans/r18/stream_session_window_before.txt).
PLAN_SPLIT = {
    "win_agg_frames",
    "fn_string_basic",
    "fn_date_extract",
    "stream_session_window",
}


def _time_noop_sink(fn, spark, sf_dir: str) -> float:
    """Median wall of executing the plan into the no-op sink — same
    executor work, zero driver transfer."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


# Headline set: the flagship TPC-H-style queries plus one representative
# per operator family (join, agg, window, setop, function groups, each
# [EXT] pipeline). Full registry coverage is correctness's job
# (drive_contract.py); bench tracks throughput of the load-bearing plans.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "join_inner",
    "join_semi",
    "join_asof",
    "subq_correlated_scalar",
    "pivot_segment_by_nation",
    "agg_cube",
    "agg_stats",
    "win_ranking",
    "win_agg_frames",
    "setop_union",
    "sort_multi_key_nulls",
    "fn_string_basic",
    "fn_date_extract",
    "fn_json",
    "stream_tumbling_window",
    "stream_session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_lsh_bucketed",
    "sim_ivf_probe",
    "text_quality_score",
    "text_token_count",
    # round-3 additions (DuckDB baselines in BASELINE.md r3 sub-table)
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_volume_customers",
    "dedup_cluster_components",
    "sim_quantized_topk",
    # round-5 additions: the remaining TPC-H shapes (DuckDB baselines in
    # BASELINE.md r5 sub-table)
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q9_product_type_profit",
    "q11_important_part_share",
    "q12_priority_shipclass",
    "q16_parts_supplier_counts",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q20_promotion_suppliers",
    "q21_waiting_suppliers",
    "q22_sales_opportunity",
    # round-6 additions (DuckDB baselines in BASELINE.md r6 sub-table)
    "dedup_incremental_vs_index",
    "text_mix_token_budget",
    "dedup_semantic_kmeans",
    "sample_global_shuffle",
    "text_mix_temperature",
    # round-7 additions (DuckDB baselines in BASELINE.md r7 sub-table)
    "text_dup_span_fraction",
    "text_dsir_weights",
    "mm_phash_near_dup",
    "dedup_containment",
    "sample_dsir_gumbel_topk",
    # round-10 additions (DuckDB baselines in BASELINE.md r10 sub-table)
    "mm_audio_decode",
    "mm_audio_frame_energy",
    "mm_audio_resample",
    "sim_knn_label_agreement",
    "text_strip_dup_spans",
    # round-11 additions (DuckDB baselines in BASELINE.md r11 sub-table)
    "text_pii_scrub",
]


def _cpu_anchor_once() -> float:
    """ONE fixed single-thread CPU workload (~0.2 s on the reference
    machine): 6000 sha256 passes over a 64 KiB buffer. Pure compute,
    zero I/O, zero JVM — its wall time moves ONLY with machine speed /
    contention, so the ratio of this anchor across BENCH_r*.json rounds
    separates environment drift from real plan regressions (r12: the
    driver record moved 1.25x on identical code with no way to prove
    drift from the record alone)."""
    import hashlib

    buf = bytes(range(256)) * 256  # 64 KiB, deterministic
    t0 = time.perf_counter()
    d = b""
    for _ in range(6000):
        d = hashlib.sha256(buf + d).digest()
    return time.perf_counter() - t0


def _jvm_anchor_once(spark) -> float:
    """ONE fixed Spark-local job: sum over a 50M-row range in 32 splits
    — whole-stage-codegen arithmetic with no scan. Captures the JVM +
    scheduler + parallel-CPU side of machine drift (the part the Python
    anchor can't see)."""
    t0 = time.perf_counter()
    spark.range(0, 50_000_000, 1, 32).selectExpr(
        "sum(id * 3 + 7) AS s"
    ).collect()
    return time.perf_counter() - t0


def _time_once(fn, spark, sf_dir: str) -> float:
    """ONE un-warmed execution — captures first-touch I/O (page-cache
    cold after a replica build), where lost-pushdown regressions that
    multiply bytes scanned actually show."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    return time.perf_counter() - t0


def _time_query(fn, spark, sf_dir: str) -> tuple[float, float]:
    """(median wall of runs, warm-up wall). The warm-up pass pays plan +
    codegen + shuffle-file setup — and, for index-backed queries, the
    one-time index build the steady-state serve path amortizes."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    warm = time.perf_counter() - t0
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), warm


def main() -> None:
    defs = registry.load_all()
    spark = build_session(app_name="bench")
    sf = float(os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf") or 0)

    names = [n for n in HEADLINE if n in defs]
    missing = [n for n in HEADLINE if n not in defs]
    if missing:
        print(f"bench: skipping unknown queries: {missing}", file=sys.stderr)

    # calibration anchors, sampled BEFORE and AFTER the query loop so
    # the reported median reflects machine speed through the whole run
    _jvm_anchor_once(spark)  # warm codegen/scheduler once
    cpu_samples = [_cpu_anchor_once() for _ in range(3)]
    jvm_samples = [_jvm_anchor_once(spark) for _ in range(3)]

    per_query: dict[str, float] = {}
    warmups: dict[str, float] = {}
    plan_walls: dict[str, float] = {}
    for name in names:
        try:
            med, warm = _time_query(defs[name].fn, spark, SF_DIR)
            per_query[name] = round(med, 4)
            if name in INDEX_WARMUP:
                warmups[name] = round(warm, 4)
            if name in PLAN_SPLIT:
                plan_walls[name] = round(
                    _time_noop_sink(defs[name].fn, spark, SF_DIR), 4
                )
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            per_query[name] = -1.0

    cpu_samples += [_cpu_anchor_once() for _ in range(3)]
    jvm_samples += [_jvm_anchor_once(spark) for _ in range(3)]
    calib = {
        "cpu": round(statistics.median(cpu_samples), 3),
        "jvm": round(statistics.median(jvm_samples), 3),
    }

    ok = {k: v for k, v in per_query.items() if v >= 0}

    def _qclass(n: str) -> str:
        """Per-class buckets so a regression localizes without
        per-query spelunking (r7 verdict item 9) — the headline total
        mixes queries of very different baseline cost."""
        if n.startswith("q") and n[1].isdigit():
            return "tpch"
        if n.startswith("dedup_"):
            return "ext-dedup"
        if n.startswith("sim_"):
            return "ext-sim"
        if n.startswith(("text_", "sample_")):
            return "ext-text"
        if n.startswith("mm_"):
            return "ext-mm"
        if n.startswith("stream_"):
            return "streaming"
        return "core-sql"

    subtotals: dict[str, float] = {}
    for k, v in ok.items():
        c = _qclass(k)
        subtotals[c] = round(subtotals.get(c, 0.0) + v, 4)
    # The driver captures only the LAST ~2000 chars of stdout; round 8's
    # line outgrew that window (class subtotals + warmups pushed it over
    # → BENCH_r08 parsed:null, the round's perf number of record lost).
    # Fix (r8 verdict item 1): the stdout line carries ONLY the fields
    # the driver contract names, 3-decimal walls, no separators padding;
    # subtotals/warmups/scale-check move to stderr and bench_full.json.
    # r13: `calib` is the machine-speed normalizer (see _cpu_anchor_once)
    # — it must ride the stdout line so every driver BENCH_r*.json
    # carries it. Adaptive per-query precision (2 decimals at >=0.1 s,
    # 3 below) buys the ~36 chars back; full 4-decimal walls stay in
    # bench_full.json.
    out = {
        "metric": "headline_query_total_median_wall",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": {
            k: round(v, 2 if v >= 0.1 else 3) for k, v in per_query.items()
        },
        "sf": sf,
        "calib": calib,
    }
    full = {
        **out,
        "queries": per_query,
        "calib_samples": {
            "cpu": [round(s, 4) for s in cpu_samples],
            "jvm": [round(s, 4) for s in jvm_samples],
        },
        "class_subtotals_sec": dict(sorted(subtotals.items())),
        "index_warmup_sec": warmups,
        "plan_noop_sink_sec": plan_walls,
    }
    if os.environ.get("SPARK_GRAFT_SCALE_CHECK") == "1":
        full["scale_check_x16"] = _scale_check(spark, defs)
    print(
        "bench: class_subtotals_sec="
        + json.dumps(full["class_subtotals_sec"], separators=(",", ":"))
        + " index_warmup_sec="
        + json.dumps(full["index_warmup_sec"], separators=(",", ":"))
        + " plan_noop_sink_sec="
        + json.dumps(full["plan_noop_sink_sec"], separators=(",", ":")),
        file=sys.stderr,
    )
    Path(__file__).resolve().parent.joinpath("bench_full.json").write_text(
        json.dumps(full, separators=(",", ":")) + "\n"
    )
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) < 1800, f"bench line {len(line)} chars breaches driver capture"
    print(line)
    spark.stop()


def _scale_check(spark, defs) -> dict[str, float]:
    """Optional: replicate lineitem/orders AND the documents corpus 16x
    into /tmp (idempotent, key-shifted so replicas stay distinct) and
    report wall-ratios for the flagships plus the [EXT] text pipeline —
    the does-the-plan-absorb-growth sanity (BASELINE.md 'scale-sanity')."""
    from pyspark.sql import functions as F

    from duckdb_pgwire_spark.session import load_table

    src, dst = SF_DIR, "/tmp/sf_synth16"
    if not os.path.exists(dst):
        os.makedirs(dst)
        li = load_table(spark, src, "lineitem")
        o = load_table(spark, src, "orders")
        maxo = o.agg(F.max("o_orderkey")).first()[0] + 1
        reps = spark.range(16).withColumnRenamed("id", "rep")
        li.crossJoin(reps).withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("rep") * maxo
        ).drop("rep").repartition(32).write.parquet(f"{dst}/lineitem.parquet")
        o.crossJoin(reps).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("rep") * maxo
        ).drop("rep").repartition(32).write.parquet(f"{dst}/orders.parquet")
        d = load_table(spark, src, "documents")
        maxd = d.agg(F.max("doc_id")).first()[0] + 1
        # replica docs get a per-replica word prefix so near-dup
        # structure is preserved but replicas aren't trivial clones
        d.crossJoin(reps).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * maxd
        ).withColumn(
            "text", F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit(" "), "text")
        ).drop("rep").repartition(32).write.parquet(f"{dst}/documents.parquet")
        for t in ("region", "nation", "customer", "supplier", "part"):
            load_table(spark, src, t).write.mode("overwrite").parquet(
                f"{dst}/{t}.parquet"
            )
    ratios = {}
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q6_forecast_revenue",
        "q2_min_cost_supplier",
        "q4_order_priority",
        "q21_waiting_suppliers",
        "dedup_minhash_lsh",
        "text_contamination_check",
        "text_tfidf_top_terms",
        "text_dup_span_fraction",
    ):
        t_small, _ = _time_query(defs[name].fn, spark, src)
        # double warm-up on the replica dir: right after the build its
        # files are cold in the page cache, and a single warm pass still
        # reads 26x-looking ratios that a second pass shows are really
        # ~4x (measured on q3) — the ratio should reflect the plan, not
        # first-touch I/O. The COLD first-touch time is recorded too
        # (r5 ADVICE): a plan regression whose cost is extra bytes
        # scanned (e.g. a lost filter pushdown) shows up in cold I/O
        # while staying invisible to the warm ratio.
        t_cold = _time_once(defs[name].fn, spark, dst)
        t_big, _ = _time_query(defs[name].fn, spark, dst)
        ratios[name] = round(t_big / t_small, 2)
        ratios[f"{name}__cold"] = round(t_cold / t_small, 2)
    return ratios


if __name__ == "__main__":
    main()

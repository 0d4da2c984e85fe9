#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Every warm-up and measured run goes through tajo_spark/profile.py,
which mirrors the reference's harness shape (BenchmarkSet.perform,
tajo-core/.../benchmark/BenchmarkSet.java:115-129: wall-clock around
executeQuery) but executes through the noop sink so timing covers the
full distributed plan without driver-side result transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from functools import partial

from tajo_spark import profile
from tajo_spark.queries.registry import all_queries
from tajo_spark.session import build_spark

# The reference's own benchmark corpus is TPC-H q1-q22 + simple micro
# queries (tajo-core/benchmark/; BenchmarkSet.java:115-129) — run every
# implemented member, plus the beyond-reference pipeline headliners.
HEADLINE = [
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "micro_selection",
    "micro_selection1",
    "micro_selection2",
    "micro_groupby1",
    "micro_groupby2",
    "window_topk_per_group",
    "window_running_agg",
    "join_skew_salted",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "dedup_semantic",
    "dedup_apply_neardup",
    "sim_cosine_topk",
    "text_metrics",
    "text_term_topk",
    "events_sessionize",
    "asof_join_events_orders",
    "range_join_event_burst",
    "sample_hash_split",
    "sample_global_shuffle",
    "text_pii_stats",
    "text_repetition_signals",
    "text_contamination",
    "text_tfidf_topk",
    "text_unigram_logprob",
    "text_chunk_overlap",
    "pack_sequences",
    # round-2 curation additions
    "text_quality_classifier",
    "dedup_span_ngrams",
    "sample_temperature_mixture",
    "pipeline_corpus_prep_v2",
    "text_bpe_train",
    # round-3 additions
    "text_bpe_encode",
    "src_avro_roundtrip",
    "curation_source_cap",
    "export_shard_manifest",
    "text_ngram_topk",
    "sim_quantized_topk",
    "pipeline_corpus_prep_v3",
    "corpus_datacard",
    "sim_ivf_q8_topk",
    "dedup_semantic_coarse",
    "sim_ann_join",
    "sim_ann_join_ivf",
    "sim_decontaminate",
    "sim_ann_q8_persisted",
    "pipeline_corpus_prep_v4",
    # round-4 additions
    "sim_ann_pq_persisted",
    "multimodal_phash_neardup",
    "dedup_paragraphs",
    "text_gopher_rules",
    "dedup_cdc_chunks",
    "text_bm25_topk",
    "dedup_bloom_prefilter",
    "text_quality_train",
    "curation_dsir_select",
    "text_ppl_buckets",
    "dedup_split_leakage",
    "pipeline_corpus_prep_v5",
    "sample_token_budget_plan",
    "dedup_best_of_cluster",
    "sample_epoch_materialize",
    "multimodal_audio_neardup",
    "events_conversation_assembly",
    "text_cms_heavy_hitters",
    "corpus_drift_report",
    "dedup_split_repair",
    "sim_hybrid_rrf",
    "src_bucketed_roundtrip",
    "ddl_index_cluster_roundtrip",
    "text_langid_confusion",
    "export_shard_verify",
    # round-5 additions (budgeted in round 6 per r05 verdict #5)
    "dedup_exact_substring",
    "text_blocklist_filter",
    "sim_kmeans_lloyd",
    "profile_columns_documents",
    "text_bigram_logprob",
    # round-6: the PQ serving path tracked separately from the
    # exact-leg-bearing sim_ann_pq_persisted row (r05 verdict #6),
    # plus this round's curation additions
    "sim_ann_pq_probe",
    "text_boilerplate_strip",
    "text_char_entropy",
    "sample_weighted_reservoir",
    "pipeline_corpus_prep_v6",
    "graph_pagerank_neardup",
    "dedup_best_by_centrality",
    "sketch_hist_quantiles",
    "profile_user_skew",
    "sample_weighted_reservoir_by",
    "multimodal_jpeg_roundtrip",
    "export_tar_verify",
    "dedup_containment_pairs",
    "corpus_length_drift",
    # round-7 additions
    "dedup_containment_asym",
    "dedup_weighted_containment",
    "dedup_cluster_stats",
    "sim_source_centroid_drift",
    "text_bpe_fertility",
    "multimodal_jpeg_progressive",
    "multimodal_flac_roundtrip",
    "multimodal_video_real_frames",
    "multimodal_gif_roundtrip",
    "multimodal_image_resize",
    "pipeline_corpus_prep_v7",
    "pipeline_attrition_report",
    # round-7: one representative per previously-unrepresented registry
    # category, so every category's scale story has a tracked number
    # (tools/audit_coverage.py makes this a standing gate)
    "events_funnel",
    "fn_string_regex",
    "nested_group_by",
    "setop_except_all",
    "agg_skew_salted",
    "agg_rollup",
    "sort_global",
    "subq_exists_correlated",
]


def _host_speed_probe(spark) -> float:
    """Fixed-work probe measured in the SAME process as the queries:
    four sequential tiny shuffle jobs — the scheduler-latency +
    shuffle-overhead shape that a loaded bench host inflates most
    (r08: text_bpe_train +170 % on the driver host vs +4 % overall).
    Budgets in perf_budgets.json are calibrated against this probe's
    reference time (`_probe_reference_sec`, measured on the builder
    host); the breach check scales every budget by
    clamp(probe/reference, 1.0, 3.0) so host load can neither
    manufacture breaches (slow host → budgets stretch) nor mask real
    regressions (factor never drops below 1; a >3× slowdown is a host
    problem the raw timings expose anyway).
    """
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        for _j in range(4):
            (
                spark.range(0, 1_000_000, 1, 32)
                .selectExpr("id % 97 AS k")
                .groupBy("k")
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def host_factor(probe_sec: float, ref, max_factor: float = 3.0) -> float:
    """The host-speed factor: clamp(probe_sec / ref, 1, max_factor),
    rounded to the millisecond. ``ref`` is the probe's reference time
    (``_probe_reference_sec``); without a positive one the host is
    uncalibrated and the factor is 1."""
    if not isinstance(ref, (int, float)) or ref <= 0:
        return 1.0
    return round(min(max_factor, max(1.0, probe_sec / ref)), 3)


def budget_breaches(
    budgets: dict,
    timings: dict[str, float],
    probe_sec: float,
    max_factor: float = 3.0,
) -> tuple[list[str], float]:
    """(breach names, applied host factor) under the host-normalized
    budget rule: factor = host_factor(probe, _probe_reference_sec,
    max_factor), breach when timing > budget * factor. Keys starting
    with '_' are metadata, never budgets. Pure so tests can pin the
    semantics. ``max_factor`` drops to 1.5 when the caller finds no
    external-load corroboration for a slow probe (ADVICE r09: an
    ENGINE regression slows the probe and the queries alike, and an
    uncapped stretch would mask exactly the scheduler/shuffle
    regressions the normalization exists to distinguish)."""
    factor = host_factor(
        probe_sec, budgets.get("_probe_reference_sec"), max_factor
    )
    names = [
        name
        for name, limit in budgets.items()
        if not name.startswith("_")
        and isinstance(limit, (int, float))
        and timings.get(name, 0.0) > limit * factor
    ]
    return names, factor


def _load_ratio() -> float:
    """1-minute loadavg per core — external-load corroboration for a
    slow host probe. Sampled at process start, BEFORE this bench's own
    Spark session loads the machine."""
    try:
        return round(os.getloadavg()[0] / max(os.cpu_count() or 1, 1), 3)
    except (OSError, AttributeError):
        return -1.0


def main() -> None:
    start_load_ratio = _load_ratio()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = build_spark(app_name="tajo_spark_bench")
    registry = all_queries()

    # Warm the JVM once: parquet reader, hash-agg, broadcast-join and
    # window codegen paths all compile here so the first measured query
    # doesn't pay one-time JIT/codegen costs.
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from tajo_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(10_000)
    na = load_table(spark, sf_dir, "nation")
    (
        li.join(F.broadcast(na), li.l_suppkey % 25 == na.n_nationkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.avg("l_extendedprice").alias("a"))
        .withColumn("r", F.rank().over(Window.orderBy(F.desc("s"))))
        .collect()
    )

    # Then compile each headline query's own generated classes at the
    # smallest SF (profile.warm: two passes, then gc and settle) —
    # cold-compile was 2-3 s/query for the wide pipelines, a pure
    # single-run artifact: at production scale a query compiles once
    # and runs for minutes.
    # The session pins spark.sql.codegen.cache.maxEntries=2000 (default
    # 100): with the default cache, this warmup evicts each query's
    # generated classes before its measured run and every measurement
    # re-pays Janino compilation (~3-10 s for the wide pipelines —
    # dedup_minhash_pairs measured 12.2 s evicted vs ~2 s cached).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(
        sf_dir
    ):
        builds = {n: partial(registry[n].spark, spark, warm_dir) for n in HEADLINE}
        for name, exc in profile.warm(spark, builds).items():
            print(f"  warmup {name} skipped: {exc}", file=sys.stderr)
    # no tiny SF available → skip per-query warmup rather than scanning
    # the measured SF untimed (which would pre-warm the page cache and
    # make timings incomparable across hosts)

    # Calibrate the host-speed factor right before the measured passes
    # (post-warmup, post-JIT — the same regime the queries run in).
    probe_sec = _host_speed_probe(spark)

    # Two measured passes, report the per-query minimum: steady-state
    # throughput is the quantity comparable to the reference's
    # long-running-query regime (a query compiles/JITs once, then runs
    # for minutes at 100 TB); the min discards whichever pass absorbed
    # residual async-compilation or a GC pause.
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE:
            build = partial(registry[name].spark, spark, sf_dir)
            t = round(profile.run(spark, build).wall_s, 3)
            timings[name] = min(timings.get(name, t), t)
            print(f"  pass{_pass} {name}: {t:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # methodology stamp so cross-round comparisons can detect a
        # measurement change (round 1 switched from single-pass to
        # min-of-two steady-state)
        "methodology": "min_of_2_passes_after_sf0.001_codegen_warmup",
        "measured_passes": 2,
        # same-process host-speed probe (see _host_speed_probe): lets
        # cross-host budget comparison separate engine regressions
        # from bench-host load
        "host_probe_sec": probe_sec,
    }
    # Full per-query map goes to a file; stdout gets a COMPACT final
    # line.  The driver records only a bounded tail of stdout, and the
    # 90-entry queries dict overflowed it in round 4 (BENCH_r04.json
    # "parsed": null — the tail started mid-dict).  Budget breaches are
    # counted against perf_budgets.json (the machine-readable mirror of
    # PERF_BUDGET.md's tracked rows).
    # The same record also goes to bench_results_c{cores}.json, so a
    # run at one core count keeps the record of a run at another;
    # tools/sf1_spotbench.py reads bench_results.json.
    here = os.path.dirname(os.path.abspath(__file__))
    cores = spark.sparkContext.defaultParallelism
    for name in ("bench_results.json", f"bench_results_c{cores}.json"):
        with open(os.path.join(here, name), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    breaches = []
    host_factor = 1.0
    factor_suspect = False
    try:
        with open(os.path.join(here, "perf_budgets.json")) as f:
            budgets = json.load(f)
        breaches, host_factor = budget_breaches(budgets, timings, probe_sec)
        # ADVICE r09: a >1.5x probe with an IDLE machine at bench start
        # is more likely an engine/session-conf regression (which slows
        # probe and queries alike) than host load — cap the stretch at
        # 1.5x and flag, instead of silently absorbing it
        if host_factor > 1.5 and 0.0 <= start_load_ratio < 0.5:
            factor_suspect = True
            breaches, host_factor = budget_breaches(
                budgets, timings, probe_sec, max_factor=1.5
            )
    except Exception as exc:  # budget accounting must never fail the bench
        print(f"  budget check skipped: {exc}", file=sys.stderr)
    # cross-round probe history so factor drift is visible without
    # re-deriving it from per-round BENCH files (ADVICE r09)
    try:
        hist_path = os.path.join(here, "probe_history.json")
        try:
            with open(hist_path) as f:
                hist = json.load(f)
        except Exception:
            hist = []
        hist.append(
            {
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                "probe_sec": probe_sec,
                "host_factor": host_factor,
                "factor_suspect": factor_suspect,
                "load_ratio_at_start": start_load_ratio,
                "sf": sf,
            }
        )
        with open(hist_path, "w") as f:
            json.dump(hist[-60:], f, indent=1)
            f.write("\n")
    except Exception as exc:
        print(f"  probe history skipped: {exc}", file=sys.stderr)
    # Per-query walls on stdout so the driver's PERF comparator can
    # populate per_query / scaling.per_query (VERDICT r12 #1: the
    # comparator got no per-query data because only bench_results.json
    # carried the walls).  Printed BEFORE the compact line: the driver
    # records a bounded 2000-char stdout tail and parses the last JSON
    # line in it — a 133-entry dict is ~3.8 KB, so embedding it in the
    # FINAL line would truncate mid-dict and null the parse (exactly
    # round 4's failure).  This ordering keeps the final compact line
    # byte-compatible (additions-only) while a full-stdout reader gets
    # the complete per-query map.
    print(
        json.dumps(
            {
                "metric": "headline_query_walls",
                "unit": "sec",
                "sf": sf,
                "queries": timings,
                "value": total,
                "methodology": full["methodology"],
            },
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "breaches": len(breaches),
                "breach_names": breaches[:10],
                "host_probe_sec": probe_sec,
                "host_factor": host_factor,
                "host_factor_suspect": factor_suspect,
                "load_ratio_at_start": start_load_ratio,
                "queries_file": "bench_results.json",
                "methodology": full["methodology"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

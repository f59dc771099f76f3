"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through full computation with the `noop` datasource
writer (count() alone would let Catalyst prune most of the work).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_QUERIES = [
    "tax_calc",
    "tax_state_summary",
    "refund_records",
    "refund_claims",
    "nexus_status",
    "filing_calendar",
    "pricing_summary",
    "top_customers",
    "customer_order_ranks",
    "events_sessions",
    # training-data pipeline ops
    "doc_text_stats",
    "doc_tfidf_top_terms",
    "dedup_minhash_pairs",
    "dedup_minhash_est_pairs",
    "corpus_decontaminate",
    "knn_bruteforce",
    "ivf_knn_portable",
    "embedding_dup_pairs",
    # round-6 operator families (tracked from r7 so regressions show up
    # round-over-round, not just at add time)
    "pq_knn_fixed_queries",
    "ivfpq_knn_fixed_queries",
    "corpus_decontaminate_bloom",
    "multimodal_png_profile",
    "corpus_clean_pipeline",
    # round-7 operator families
    "multimodal_jpeg_profile",
    "corpus_bpe_merges",
    "doc_bpe_token_counts",
    "dedup_incremental_pairs",
    "corpus_chunk_dedup",
    "corpus_apply_changes",
    "events_top_users",
    "events_zorder_keys",
    "dedup_containment_pairs",
    "doc_quality_model",
    "embedding_kmeans",
    "multimodal_g711_profile",
    "corpus_bm25_search",
    "embedding_dup_pairs_multitable",
    "multimodal_mp3_probe",
    "doc_normalized",
    "corpus_snapshot_diff",
    "corpus_hybrid_search",
    "events_funnel",
    "events_retention",
    "events_anomalies",
    "embedding_triangles",
    "events_gapfill",
    "customer_value_deciles",
    "events_audience_overlap",
    "dedup_editdist_pairs",
    "embedding_bfs_dist",
    "lineitem_regression",
    "events_pivot",
    "corpus_weighted_median",
    "corpus_distinctive_terms",
    "knn_label_vote",
    "dedup_er_pipeline",
    "events_wow_growth",
    "events_attribution_linear",
    "doc_mad_outliers",
    "events_active_users",
    "corpus_rare_token_docs",
    "events_value_percentiles",
    "pricing_cube",
    "nation_top_customer_list",
    "events_debounce",
    "nation_pareto_cutoff",
    "corpus_expectations",
    # round-8: persisted-ANN-index rows — the timing shows QUERY-ONLY
    # marginal cost (probe/ADC/re-rank); the index builds once into
    # $TCE_ANN_INDEX_DIR on the first run and is loaded thereafter
    # (min-over-runs keeps the post-build number)
    "ivf_knn_prebuilt",
    "pq_knn_prebuilt",
    "ivfpq_knn_prebuilt",
    "ivfpq_index_append",
    "order_shipping_priority",
    "nation_local_supplier_volume",
    "part_promo_revenue",
    "embedding_dup_pairs_amplified",
    # round-9: scale-path cluster resolution, new probes/samplers, and
    # the TPC-H-22 completion (correlated shapes + the ten final Qs)
    "dedup_cluster_reps",
    "dedup_est_clusters",
    "corpus_budget_sample",
    "corpus_shuffle_shards",
    "multimodal_mkv_probe",
    "multimodal_mp3_sideinfo",
    "multimodal_mp3_decode",
    "part_small_qty_revenue",
    "supplier_dominant_parts",
    "supplier_wait_chain",
    "customer_order_distribution",
    "large_volume_customers",
    "idle_rich_customers",
    "order_priority_check",
    "part_min_cost_supplier",
    "nation_market_share",
    "part_supplier_variety",
    "returned_item_losses",
    "nation_trade_volume",
    "important_part_stock",
    "shipping_delay_priority",
    "top_revenue_supplier",
    "promo_revenue_share",
    "revenue_forecast_delta",
    # round-9 session 2: sketches, JSON profile, CDC view maintenance,
    # PIT lookup, privacy screen, persisted tokenizer
    "events_value_sketch",
    "events_reach_sketch",
    "events_props_profile",
    "corpus_incremental_rollup",
    "corpus_pit_versions",
    "corpus_k_anonymity",
    "doc_bpe_token_counts_prebuilt",
    "embedding_kcore",
    "corpus_retrieval_mrr",
    # round-10: winnowing fingerprints (MOSS) + copy-detection pairs,
    # graded bigram-LM quality score
    "dedup_winnow_fingerprints",
    "dedup_winnow_pairs",
    "dedup_winnow_screen",
    "doc_bigram_lm",
    "events_bot_regularity",
    "corpus_leakage_safe_split",
    # round-11: semantic dedup (SemDeDup), URL/host hygiene, trigram LM
    "embedding_semdedup",
    "web_url_canonical",
    "web_host_profile",
    "web_host_cap_sample",
    "doc_trigram_lm",
    "corpus_temperature_sample",
    "dedup_est_quality",
    "embedding_threshold_curve",
    "dedup_full_stack",
    "corpus_bpe_fertility",
    "corpus_quality_mixture",
    "corpus_l_diversity",
    "dedup_drop_witness",
    "embedding_semdedup_screen",
    "web_url_dedup",
    "web_blocklist_screen",
    "web_host_scorecard",
    # r12: serve-only semdedup marginal (persisted index), eTLD+1 cap,
    # Gopher-style rule screen, prebuilt-tokenizer fertility
    "embedding_semdedup_screen_prebuilt",
    "web_domain_cap_sample",
    "doc_rule_quality",
    "corpus_bpe_fertility_prebuilt",
    "web_extract_text",
    "web_robots_screen",
    "web_domain_scorecard",
    "corpus_rule_tiered_sample",
    # r13: IDN canonicalization, robots resolution + resolved screen,
    # line-level boilerplate strip
    "web_idn_canonical",
    "web_robots_resolve",
    "web_robots_screen_resolved",
    "web_boilerplate_strip",
    "web_admission_pipeline",
    "web_robots_sitemaps",
    "web_robots_crawl_delay",
    # r14: sitemap document parsing, per-host fetch-budget allocation,
    # frontier construction (the interrupted-build additions, benched
    # from the optimization round so they get a regression history)
    "web_sitemap_urls",
    "web_recrawl_budget",
    "web_frontier_urls",
]

# The original 18-query set every round since r1 has recorded — their
# sub-total is the ONLY number comparable across rounds (the full set
# grows as operator families land, so the headline total grows with
# coverage, not regressions).
CORE18 = BENCH_QUERIES[:18]


def _loadavg_gate(max_load: float = 1.0, max_wait_sec: float = 600.0) -> dict:
    """Refuse to START timing on a contended box: BENCH_r06 recorded
    46.7 s while an idle re-run measured 23.6 s (unchanged-code queries
    2.5-5× slower — pure host contention).  Loadavg is only meaningful
    BEFORE our own Spark JVM starts (once timing begins, the benchmark
    itself saturates the cores and loadavg can't separate us from an
    intruder); mid-run contention is detected per query by
    ``_cpu_totals`` instead."""
    waited = 0.0
    load = os.getloadavg()[0]
    while load > max_load and waited < max_wait_sec:
        time.sleep(30.0)
        waited += 30.0
        load = os.getloadavg()[0]
    return {
        "loadavg_at_start": round(load, 2),
        "loadavg_gate_waited_sec": round(waited, 1),
        "loadavg_gate_clean": load <= max_load,
    }


def _cpu_totals() -> tuple[float, float]:
    """(system_busy_sec, our_tree_sec): system-wide non-idle CPU seconds
    from /proc/stat, and the CPU seconds of every live DESCENDANT of this
    process (the Spark JVM and, crucially, the pyspark worker daemons —
    which setpgid into their own process group, so a process-GROUP sum
    misattributes all Arrow-batched mapInPandas work as external).  The
    difference across a timed run is EXTERNAL CPU — contention measured
    directly, immune to our own load (the flaw in gating mid-run on
    loadavg: the benchmark's own full-core stages trip the gate)."""
    hz = float(os.sysconf("SC_CLK_TCK"))
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:11]]
    busy = (sum(vals) - vals[3] - vals[4]) / hz  # minus idle + iowait
    ppid_of: dict[int, int] = {}
    cpu_of: dict[int, float] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            # post-comm fields: [0]=state [1]=ppid … [11]=utime [12]=stime
            # [13]=cutime [14]=cstime.  cutime/cstime (CPU of REAPED
            # children) must be included: pyspark daemons fork a worker
            # per task and reap it seconds later, so a live-process sum
            # DROPS when workers exit and the busy-minus-ours difference
            # books our own dead workers' CPU as external contention
            # (observed as >32 "external cores" on an idle 32-CPU box).
            # A child is counted exactly once at any instant: in its own
            # utime/stime while alive, in its reaper's cutime/cstime
            # after.
            ppid_of[int(pid)] = int(f[1])
            cpu_of[int(pid)] = (
                int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            ) / hz
        except (OSError, ValueError, IndexError):
            continue
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        children.setdefault(ppid, []).append(pid)
    ours, stack = 0.0, [me]
    while stack:
        pid = stack.pop()
        ours += cpu_of.get(pid, 0.0)
        stack.extend(children.get(pid, ()))
    return busy, ours


def regression_diff(
    timings: dict[str, float],
    contended: list[str],
    sidecar: Path,
    threshold: float = 1.3,
    min_sec: float = 0.2,
) -> tuple[dict | None, list[dict]]:
    """Round-over-round regression diff, computed IN the bench run so a
    slowdown is a one-line artifact fact instead of a judge exercise:
    the sidecar on disk at start-of-run is the previous capture
    (committed per round), so comparing against it before overwriting
    yields ``regressions: [{query, prev, now, ratio, contended}]`` for
    every query >``threshold``× its previous time.  Fail-soft by
    construction — a missing/corrupt previous sidecar reports
    ``prev_sidecar: null`` and an empty list; contended rows are
    ANNOTATED, not excluded, so the reader sees both the ratio and its
    provenance.  Rows under ``min_sec`` on both sides are skipped
    (scheduler jitter dominates; a 0.05→0.08 s "1.6×" is noise)."""
    try:
        with open(sidecar) as fh:
            prev = json.load(fh)
        prev_q = prev.get("queries", {})
    except (OSError, ValueError):
        return None, []
    prev_meta = {
        "wall_clock_utc": prev.get("wall_clock_utc"),
        "value_core18": prev.get("value_core18"),
        "n_queries": len(prev_q),
    }
    regressions: list[dict] = []
    for name, now_s in timings.items():
        p = prev_q.get(name)
        if p is None or max(p, now_s) < min_sec:
            continue
        # round(…, 3) can zero a sub-ms previous timing; a raw ratio
        # against it would be float('inf'), which json.dump emits as
        # bare Infinity — invalid JSON for strict parsers.  Clamp the
        # denominator to the rounding quantum instead of skipping, so a
        # genuine sub-ms→seconds jump (now_s >= min_sec) still flags.
        ratio = now_s / max(p, 0.0005)
        if ratio > threshold:
            regressions.append(
                {
                    "query": name,
                    "prev": p,
                    "now": now_s,
                    "ratio": round(ratio, 2),
                    "contended": name in contended,
                }
            )
    regressions.sort(key=lambda r: -r["ratio"])
    return prev_meta, regressions


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    gate = _loadavg_gate()

    import __spark_entry__ as entry
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd
    from tax_compliance_engine_spark.session import get_spark

    spark = get_spark(app_name="tce-bench")
    # Same resolution rule as scripts/check_oracle.py: names folded into
    # driver-slot composites still bench under their original workload
    # (keeps the headline set comparable across rounds).
    queries = dict(entry.queries())
    for name in BENCH_QUERIES:
        if name not in queries:
            queries[name] = getattr(q, name, None) or getattr(qd, name)

    # Warm the JVM/session on the smallest sf so first-query JIT/codegen/
    # broadcast-planning overhead doesn't pollute the sf-scale measurement.
    for name in BENCH_QUERIES:
        queries[name](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    def timed_run(fn) -> tuple[float, float]:
        """One measured run → (wall_sec, external_cores): external_cores
        is CPU burned by processes OUTSIDE our process group during the
        run, per wall-second — ~0 on a clean box, ≥1 when an intruder
        owns a core's worth of our runtime."""
        b0, o0 = _cpu_totals()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        b1, o1 = _cpu_totals()
        ext = max(0.0, (b1 - b0) - (o1 - o0)) / max(wall, 1e-9)
        return wall, ext

    timings: dict[str, float] = {}
    ext_max = 0.0
    transients = 0
    n_cpu = os.cpu_count() or 32
    contended: list[str] = []
    for name in BENCH_QUERIES:
        fn = queries[name]
        # min over runs (steady-state, robust to one-off GC/IO stalls);
        # a run with ≥1 external core of contention measured DURING it is
        # dirty — retry (bounded) and prefer the min over clean runs.
        # ext > cpu_count is PHYSICALLY impossible (busy grows ≤ n_cpu/s)
        # — an accounting transient (process reparenting / reap races),
        # not contention: the run still retries as dirty, but the
        # reading is excluded from external_cores_max and counted
        # separately so the artifact's contention number stays credible.
        clean: list[float] = []
        dirty: list[float] = []
        transient_walls: list[float] = []
        for _ in range(4):
            wall, ext = timed_run(fn)
            if ext > n_cpu:
                # accounting transient, NOT contention: retry, but never
                # let it push the query into contended_queries — that
                # would report contention on a provably idle box
                transients += 1
                transient_walls.append(wall)
                continue
            ext_max = max(ext_max, ext)
            (clean if ext < 1.0 else dirty).append(wall)
            if len(clean) >= 2:
                break
        if not clean and dirty:
            contended.append(name)
        # min over ALL observed walls, not just the clean ones: external
        # CPU can only INFLATE a wall (a contended run never finishes
        # faster than the true time), so every wall is a valid upper
        # bound and the global min is the tightest steady-state estimate.
        # Restricting the min to clean runs caused a phantom 2.88×
        # "regression" in the r12 capture: est_pairs' fast steady-state
        # runs (~1.2 s) were classified dirty/transient by accounting
        # races, leaving the min over a singleton {4 s first-run warmup}.
        # The clean/dirty/transient split still feeds the gate fields.
        timings[name] = round(
            min(clean + dirty + transient_walls), 3
        )
        # Isolate queries from each other: the suite caches DataFrames
        # inside many queries (LSH buckets, minhash signatures, ANN
        # builds) and never unpersists them, so by mid-list the block
        # manager is full of dead blocks and storage eviction pollutes
        # the timings (observed: dedup_minhash_est_pairs 7.1 s mid-bench
        # vs 1.09 s standalone on the same idle box).  Clearing between
        # queries makes each number reproducible standalone; caching
        # WITHIN a query still works during its runs.
        spark.catalog.clearCache()
    gate["external_cores_max"] = round(ext_max, 2)
    gate["accounting_transients"] = transients
    gate["contended_queries"] = contended

    total = round(sum(timings.values()), 3)
    core18 = round(sum(timings[n] for n in CORE18 if n in timings), 3)
    sidecar = Path(__file__).resolve().parent / "BENCH_queries_full.json"
    prev_meta, regressions = regression_diff(timings, contended, sidecar)
    gate["prev_sidecar"] = prev_meta
    gate["regressions"] = regressions
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "value_core18": core18,
                "queries": timings,
                "sf": float(sf),
                **gate,
            }
        )
    )
    # The full line above outgrew the driver's tail capture once the
    # query set passed ~60 entries (BENCH_r07.json recorded a truncated
    # string with "parsed": null), making per-query regression diffs
    # impossible from the artifacts alone.  Persist the COMPLETE record
    # to a sidecar file next to this script — every query's seconds plus
    # the gate fields — so each round's artifact set is self-sufficient
    # (the file is committed per round; round-over-round diffs read it
    # directly).
    with open(sidecar, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "value_core18": core18,
                "queries": timings,
                "sf": float(sf),
                "wall_clock_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
                **gate,
            },
            fh,
            indent=1,
        )
    # This compact summary — total, core18, sf, the provenance gate
    # fields, and the sidecar's name, WITHOUT the per-query map — is
    # printed LAST so the tail window always ends with one short
    # parsable record; the full per-query line stays first for humans
    # and local tooling.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "value_core18": core18,
                "n_queries": len(timings),
                "sf": float(sf),
                "queries_file": "BENCH_queries_full.json",
                **gate,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

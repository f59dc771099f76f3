"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship per-state tax-liability summary on the
sf0.001 testdata.  ``queries()`` exposes every implemented operator family
from SURVEY.md §2 as (spark, sf_dir) -> DataFrame callables, and
``oracle_sql()`` provides the DuckDB twin for each (generated in
tax_compliance_engine_spark/plans/oracle.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tax_compliance_engine_spark.plans import oracle, oracle_corpus, oracle_dataops
from tax_compliance_engine_spark.plans import queries as q
from tax_compliance_engine_spark.plans import queries_dataops as qd


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q.tax_state_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # SLOT BUDGET: the driver checks at most 50 entries — this dict is at
    # 50/50 (machine-checked by tests/test_coverage_ledger.py).  Sibling
    # views are folded into marker-tagged composite queries so every
    # implemented operator sits behind a driver hash row; the composites'
    # component queries keep their own oracle_sql() entries and stay
    # bit-exact-verified by scripts/check_oracle.py's oracle-only sweep.
    return {
        # Tax-calculation family (SURVEY §2: S1-S4, P1-P4, J1-J3, F1-F5, F13)
        "tax_calc": q.tax_calc,
        "tax_calc_inclusive": q.tax_calc_inclusive,  # F2 inclusive back-out
        "use_tax": q.use_tax,  # F3 credit clamp
        "tax_state_summary": q.tax_state_summary,  # A2/A4/A5
        "tax_batch_totals": q.tax_batch_totals,  # A1
        # Refund family (P7-P9, J7, F8, F11, A6-A8, O7)
        "refund_records": q.refund_records,
        # refund_breakdowns = state + reason + quick-scan (P8 threshold)
        # arms in one union-with-marker composite; the single-arm queries
        # (refund_state_breakdown / refund_reason_breakdown /
        # refund_quick_scan) stay oracle-swept + pytest-covered.
        "refund_breakdowns": q.refund_breakdowns,
        "refund_summary": q.refund_summary,
        "refund_claims": q.refund_claims,
        # Nexus / compliance family (A3, J4-J5, F15-F16, O4; alerts U1)
        "nexus_status": q.nexus_status,
        "nexus_periodized": q.nexus_periodized,  # measurement_period honored
        "nexus_alerts": q.nexus_alerts,
        # Filing calendar (F7, F14, F17, J6, J8, P10-P11, O5)
        "filing_calendar": q.filing_calendar,
        # Rate-database queries (P5-P6, O1-O3): rates_extremes = top10 +
        # lowest10-nonzero + no-tax-states in one marker-tagged composite
        "rates_extremes": q.rates_extremes,
        "states_exempting_grocery": q.states_exempting_grocery,
        "pricing_rollup": q.pricing_rollup,  # single-pass multi-level ROLLUP
        # Generic relational / windowed surface over the star schema
        "pricing_summary": q.pricing_summary,
        "top_customers": q.top_customers,
        "customer_order_ranks": q.customer_order_ranks,
        "events_sessions": q.events_sessions,
        "events_hourly": q.events_hourly,  # time-bucketed rollup
        # events_asof_both = backward (attribution) + forward (conversion)
        # as-of joins in one composite; the single-direction queries stay
        # oracle-swept.
        "events_asof_both": q.events_asof_both,
        "events_range_pairs": q.events_range_pairs,  # bucketized band join
        "region_revenue": q.region_revenue,
        "customers_without_orders": q.customers_without_orders,
        # Text analysis over documents (training-data pipeline ops):
        # doc_profile = text_stats + quality + lang_id + token_counts;
        # doc_signals = fingerprints + repetition.  Components oracle-swept.
        "doc_profile": qd.doc_profile,
        "doc_signals": qd.doc_signals,
        "doc_scrub_pii": qd.doc_scrub_pii,  # PII scrub + progressive counts
        "corpus_length_profile": qd.corpus_length_profile,  # exact percentiles
        # Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash
        "dedup_exact": qd.dedup_exact,
        "dedup_ngram_pairs": qd.dedup_ngram_pairs,
        "dedup_sigs": qd.dedup_sigs,  # minhash + simhash signature tables
        "dedup_minhash_pairs": qd.dedup_minhash_pairs,
        "dedup_minhash_est_pairs": qd.dedup_minhash_est_pairs,
        # dedup_minhash_resolution = transitive cluster id + one-pass keep
        # flag per doc (the keep/clusters pair in one composite)
        "dedup_minhash_resolution": qd.dedup_minhash_resolution,
        "dedup_simhash_pairs": qd.dedup_simhash_pairs,
        # Embedding similarity search
        "knn_bruteforce": qd.knn_bruteforce,
        # ivf_knn: dropped (no oracle; fully covered by hash-gated ivf_knn_portable)
        "embedding_lsh_buckets": qd.embedding_lsh_buckets,
        "embedding_dup_pairs": qd.embedding_dup_pairs,
        "embedding_dup_clusters": qd.embedding_dup_clusters,  # semantic dedup CC
        # label_centroids: dropped (array<float> column breaks the driver
        # canonicalizer; the exploded label_centroid_components is equivalent)
        "label_centroid_components": qd.label_centroid_components,
        "ivf_knn_portable": qd.ivf_knn_portable,
        "embedding_quantize": qd.embedding_quantize,
        # Corpus-level pipeline ops
        "corpus_vocab_top": qd.corpus_vocab_top,
        "doc_tfidf_top_terms": qd.doc_tfidf_top_terms,
        # corpus_samples = plain rate sample + stratified quota sample
        "corpus_samples": qd.corpus_samples,
        "corpus_mixture": qd.corpus_mixture,
        "corpus_pack_bins": qd.corpus_pack_bins,
        "corpus_decontaminate": qd.corpus_decontaminate,
        # Multimodal: metadata projection + REAL PPM decode stats (numpy
        # inside mapInPandas) under the hash gate via analytic oracle
        "multimodal_profile": qd.multimodal_profile,
        # multimodal_features: oracle-only swept entry (REAL-decode feature
        # vectors, bit-exact vs the analytic twin; slot cap keeps it out)
    }


def oracle_sql() -> dict[str, str]:
    # Names present here but absent from queries() are intentionally
    # retained: either their driver slot was folded into a composite under
    # the 50-entry cap or they were added oracle-first when the registry
    # was full.  scripts/check_oracle.py sweeps every oracle-only entry
    # against the same-named plans.queries/queries_dataops function (and
    # tests/test_plan_audit.py audits their physical plans), so they stay
    # bit-exact-verified locally and can be re-registered any time.
    return {
        "tax_calc": oracle.tax_calc_sql(),
        "tax_calc_inclusive": oracle.tax_calc_inclusive_sql(),
        "use_tax": oracle.use_tax_sql(),
        "tax_state_summary": oracle.tax_state_summary_sql(),
        "tax_batch_totals": oracle.tax_batch_totals_sql(),
        "refund_records": oracle.refund_records_sql(),
        "refund_quick_scan": oracle.refund_quick_scan_sql(),
        "refund_breakdowns": oracle.refund_breakdowns_sql(),
        "refund_state_breakdown": oracle.refund_state_breakdown_sql(),
        "refund_reason_breakdown": oracle.refund_reason_breakdown_sql(),
        "refund_summary": oracle.refund_summary_sql(),
        "refund_claims": oracle.refund_claims_sql(),
        "nexus_status": oracle.nexus_status_sql(),
        "nexus_periodized": oracle.nexus_periodized_sql(),
        "nexus_alerts": oracle.nexus_alerts_sql(),
        "filing_calendar": oracle.filing_calendar_sql(),
        "rates_extremes": oracle.rates_extremes_sql(),
        "rates_top10": oracle.rates_top10_sql(),
        "rates_lowest10": oracle.rates_lowest10_sql(),
        "no_tax_states": oracle.no_tax_states_sql(),
        "states_exempting_grocery": oracle.states_exempting_grocery_sql(),
        "pricing_summary": oracle.pricing_summary_sql(),
        "pricing_rollup": oracle.pricing_rollup_sql(),
        # nation_top_customer_list: ordered LISTAGG of each nation's
        # top-3 customers (sharded rank + pinned-order string fold) —
        # oracle-only swept entry.
        "nation_top_customer_list": oracle.nation_top_customer_list_sql(),
        # supplier_part_revenue: Q9-shaped 3-dimension broadcast join +
        # decimal-exact revenue rollup (exercises the part/supplier
        # tables) — oracle-only swept entry.
        "supplier_part_revenue": oracle.supplier_part_revenue_sql(),
        "top_customers": oracle.top_customers_sql(),
        # lineitem_regression: exact closed-form OLS per return flag —
        # sufficient statistics in DECIMAL(38,0)/HUGEINT, coefficients
        # via correctly-rounded conversions + one pinned IEEE
        # expression — oracle-only swept entry.
        "lineitem_regression": oracle.lineitem_regression_sql(),
        # customer_value_deciles: exact NTILE(10) Pareto/Lorenz rollup
        # via the two-level sharded global rank (no single-partition
        # sort), integer-cents revenue — oracle-only swept entry.
        "customer_value_deciles": oracle.customer_value_deciles_sql(),
        "customer_order_ranks": oracle.customer_order_ranks_sql(),
        "events_sessions": oracle.events_sessions_sql(),
        "events_hourly": oracle.events_hourly_sql(),
        # events_anomalies: EWMA spike detection over hourly type
        # volumes (exact-binary α, prefix folds) — oracle-only swept
        # entry.
        "events_anomalies": oracle.events_anomalies_sql(),
        # events_funnel: ordered first-touch conversion funnel — oracle-
        # only swept entry.
        "events_funnel": oracle.events_funnel_sql(),
        # events_retention: Monday-aligned weekly retention cohorts —
        # oracle-only swept entry.
        "events_retention": oracle.events_retention_sql(),
        # events_active_users: exact sliding-window DAU/WAU/stickiness
        # via 62-bit bitmap-word folds exploded to their ≤7 covering
        # windows (no approx distinct, no pair blowup) — oracle-only
        # swept entry.
        "events_active_users": oracle.events_active_users_sql(),
        # events_audience_overlap: exact cohort-overlap matrix between
        # event types via 62-bit bitmap-word folds (the roaring-bitmap
        # shape; twin uses the plain DISTINCT-pair join) — oracle-only
        # swept entry.
        "events_audience_overlap": oracle.events_audience_overlap_sql(),
        "events_asof_both": oracle.events_asof_both_sql(),
        # events_value_sketch: the O(k)-state MERGEABLE quantile
        # estimate next to the exact form (min-k-by-LCG-hash sample +
        # exact quantiles of the sample; deterministic, so bit-exact
        # gateable unlike approx_percentile) — oracle-only swept entry.
        "events_value_sketch": oracle.events_value_sketch_sql(),
        # events_props_profile: semi-structured JSON drift report
        # (per-key presence/distinct/numeric-range stats; row-local
        # codegen JSON parsing, no Python) — oracle-only swept entry.
        "events_props_profile": oracle.events_props_profile_sql(),
        # events_reach_sketch: per-group distinct-ID cardinality
        # estimate via deterministic KMV over LCG-hashed entity ids
        # (O(k) state, mergeable; the portable approx_count_distinct)
        # — oracle-only swept entry.
        "events_reach_sketch": oracle.events_reach_sketch_sql(),
        # events_attribution_linear: trailing-hour multi-touch value
        # split at pair grain (range join + one exactly-rounded
        # cents/int division, no float sums) — oracle-only swept entry.
        "events_attribution_linear": (
            oracle.events_attribution_linear_sql()
        ),
        # events_debounce: burst-collapse of same-(user, type) events
        # within 5 s into episode rows (the double-click/retry-storm
        # cleaner; sessionization construction) — oracle-only swept
        # entry.
        "events_debounce": oracle.events_debounce_sql(),
        # events_bot_regularity: inter-arrival regularity bot screen
        # (exact integer gap moments, pure-integer cv² < 0.01 flag) —
        # oracle-only swept entry (r10).
        "events_bot_regularity": oracle.events_bot_regularity_sql(),
        # events_pivot: hour × type crosstab with an EXPLICIT pivot
        # vocabulary (no implicit distinct-values job) — oracle-only
        # swept entry.
        "events_pivot": oracle.events_pivot_sql(),
        "events_asof": oracle.events_asof_sql(),
        "events_asof_next": oracle.events_asof_next_sql(),
        "events_range_pairs": oracle.events_range_pairs_sql(),
        "region_revenue": oracle.region_revenue_sql(),
        "customers_without_orders": oracle.customers_without_orders_sql(),
        # order_shipping_priority: TPC-H Q3 shape (segment semi-side,
        # date-split fact join, decimal-exact top-10 revenue) —
        # oracle-only swept entry.
        "order_shipping_priority": oracle.order_shipping_priority_sql(),
        # nation_local_supplier_volume: TPC-H Q5 shape (6-way star with
        # the customer-nation = supplier-nation cross-dimension
        # equality) — oracle-only swept entry.
        "nation_local_supplier_volume": (
            oracle.nation_local_supplier_volume_sql()
        ),
        # part_promo_revenue: TPC-H Q19 shape (OR-of-ANDs disjunctive
        # predicate mixing both join sides, scalar revenue) —
        # oracle-only swept entry.
        "part_promo_revenue": oracle.part_promo_revenue_sql(),
        "doc_profile": oracle_dataops.doc_profile_sql(),
        "doc_signals": oracle_dataops.doc_signals_sql(),
        "doc_text_stats": oracle_dataops.doc_text_stats_sql(),
        "doc_quality": oracle_dataops.doc_quality_sql(),
        "doc_lang_id": oracle_dataops.doc_lang_id_sql(),
        "doc_token_counts": oracle_dataops.doc_token_counts_sql(),
        "doc_fingerprints": oracle_dataops.doc_fingerprints_sql(),
        "doc_repetition": oracle_dataops.doc_repetition_sql(),
        # doc_mad_outliers: robust per-source length outliers via lower
        # medians + MAD (integer-only; the z-score that outliers can't
        # drag) — oracle-only swept entry.
        "doc_mad_outliers": oracle_dataops.doc_mad_outliers_sql(),
        "doc_scrub_pii": oracle_dataops.doc_scrub_pii_sql(),
        "corpus_length_profile": oracle_dataops.corpus_length_profile_sql(),
        "dedup_exact": oracle_dataops.dedup_exact_sql(),
        "dedup_ngram_pairs": oracle_dataops.dedup_ngram_pairs_sql(),
        # dedup_containment_pairs: asymmetric shingle containment
        # (n_shared/|own side|, catches excerpts Jaccard misses) —
        # oracle-only swept entry.
        "dedup_containment_pairs": (
            oracle_dataops.dedup_containment_pairs_sql()
        ),
        # dedup_editdist_pairs: Levenshtein-verified near-dup pairs over
        # the sorted-neighborhood candidate stream (typo/OCR variants
        # token Jaccard can't grade) — oracle-only swept entry.
        "dedup_editdist_pairs": oracle_dataops.dedup_editdist_pairs_sql(),
        # dedup_er_pipeline: end-to-end entity resolution (SNM block →
        # Levenshtein verify → star-contraction components → canonical
        # id + keep) composed under ONE hash gate — oracle-only swept
        # entry.
        "dedup_er_pipeline": oracle_dataops.dedup_er_pipeline_sql(),
        "dedup_sigs": oracle_dataops.dedup_sigs_sql(),
        "dedup_minhash_sigs": oracle_dataops.dedup_minhash_sigs_sql(),
        "dedup_minhash_pairs": oracle_dataops.dedup_minhash_pairs_sql(),
        "dedup_minhash_est_pairs": oracle_dataops.dedup_minhash_est_pairs_sql(),
        "dedup_minhash_resolution": oracle_dataops.dedup_minhash_resolution_sql(),
        # dedup_source_overlap: cross-source duplication matrix (est-pair
        # stream aggregated to least/greatest source cells; dyadic-exact
        # estimate sums) — oracle-only swept entry.
        "dedup_source_overlap": oracle_dataops.dedup_source_overlap_sql(),
        # dedup_cluster_reps: per-cluster representative selection
        # (longest member wins, min-id tiebreak; narrow argmax groupBy)
        # over the SCALE-PATH est pair graph (r9) — oracle-only swept.
        "dedup_cluster_reps": oracle_dataops.dedup_cluster_reps_sql(),
        "dedup_minhash_keep": oracle_dataops.dedup_minhash_keep_sql(),
        "dedup_minhash_clusters": oracle_dataops.dedup_minhash_clusters_sql(),
        # dedup_est_keep / dedup_est_clusters: the same keep-set and
        # transitive-cluster resolutions composed on the est pair stream
        # — the 100 TB compositions (r9) — oracle-only swept entries.
        "dedup_est_keep": oracle_dataops.dedup_est_keep_sql(),
        "dedup_est_clusters": oracle_dataops.dedup_est_clusters_sql(),
        # dedup_incremental_pairs: batch-vs-corpus asymmetric banded
        # minhash screen (the per-ingest dedup an incremental pipeline
        # runs) — oracle-only swept entry.
        "dedup_incremental_pairs": oracle_dataops.dedup_incremental_pairs_sql(),
        "dedup_simhash_sigs": oracle_dataops.dedup_simhash_sigs_sql(),
        "dedup_simhash_pairs": oracle_dataops.dedup_simhash_pairs_sql(),
        "knn_bruteforce": oracle_dataops.knn_bruteforce_sql(),
        "embedding_lsh_buckets": oracle_dataops.embedding_lsh_buckets_sql(),
        "embedding_dup_pairs": oracle_dataops.embedding_dup_pairs_sql(),
        # embedding_dup_pairs_wide: the 4×8-bit band geometry (32 planes)
        # — the corpus-scale collision knob, oracle-only swept entry.
        "embedding_dup_pairs_wide": oracle_dataops.embedding_dup_pairs_wide_sql(),
        # embedding_dup_pairs_multitable: LSH amplification — two
        # independent hyperplane tables OR'd with in-join global-band
        # dedup — oracle-only swept entry.
        "embedding_dup_pairs_multitable": (
            oracle_dataops.embedding_dup_pairs_multitable_sql()
        ),
        # embedding_dup_pairs_amplified: the COMPLETE planner recipe —
        # planner-sized bands + the prescribed amplification count,
        # multitable OR, exact verify — oracle-only swept entry (twin
        # pinned at the planner's answer for the 500-embedding
        # correctness corpus).
        "embedding_dup_pairs_amplified": (
            oracle_dataops.embedding_dup_pairs_amplified_sql()
        ),
        "embedding_dup_clusters": oracle_dataops.embedding_dup_clusters_sql(),
        # label_centroids: rows-only (double-sum order sensitivity)
        "label_centroid_components": oracle_dataops.label_centroid_components_sql(),
        "ivf_knn_portable": oracle_dataops.ivf_knn_portable_sql(),
        "embedding_quantize": oracle_dataops.embedding_quantize_sql(),
        "corpus_vocab_top": oracle_corpus.corpus_vocab_top_sql(),
        "doc_tfidf_top_terms": oracle_corpus.doc_tfidf_top_terms_sql(),
        "corpus_samples": oracle_corpus.corpus_samples_sql(),
        "corpus_sample": oracle_corpus.corpus_sample_sql(),
        "corpus_stratified_sample": oracle_corpus.corpus_stratified_sample_sql(),
        # corpus_shuffle_shards: deterministic training shuffle +
        # round-robin shard assignment (two-level sharded global rank
        # over the zero-padded LCG hash) — oracle-only swept entry.
        "corpus_shuffle_shards": oracle_corpus.corpus_shuffle_shards_sql(),
        # corpus_budget_sample: global doc budget split across sources by
        # exact largest-remainder allocation, quotas filled in LCG-hash
        # order — oracle-only swept entry (integer-exact end to end).
        "corpus_budget_sample": oracle_corpus.corpus_budget_sample_sql(),
        "corpus_mixture": oracle_corpus.corpus_mixture_sql(),
        # corpus_clean_pipeline: the four-stage training-data pipeline
        # (quality filter → exact-dedup keep → token-budget mixture →
        # packing) composed under ONE hash gate — oracle-only swept entry.
        "corpus_clean_pipeline": oracle_corpus.corpus_clean_pipeline_sql(),
        # corpus_bpe_merges: distributed greedy BPE merge training (the
        # tokenizer-training step of a real data pipeline) — oracle-only
        # swept entry, bit-exact vs the unrolled windowed twin.
        "corpus_bpe_merges": oracle_corpus.corpus_bpe_merges_sql(),
        # doc_bpe_token_counts: train the BPE rules AND segment every doc
        # with them in one composed plan — oracle-only swept entry (the
        # tokenizer-pipeline composition gate).
        "doc_bpe_token_counts": oracle_corpus.doc_bpe_token_counts_sql(),
        # doc_bpe_token_counts_prebuilt: the SAME tokenizer pipeline
        # answered from a PARQUET-PERSISTED merge-rule artifact (train
        # once per corpus snapshot via the keyed ANN-index store; later
        # runs pay only row-local segmentation).  Rule strings
        # round-trip parquet exactly, so it shares the inline twin —
        # the sweep proves load ≡ retrain bit-for-bit.
        "doc_bpe_token_counts_prebuilt": (
            oracle_corpus.doc_bpe_token_counts_sql()
        ),
        # corpus_heavy_hitters: exact heavy-hitter tokens behind a
        # count-min-sketch prefilter — oracle-only swept entry (the
        # result is exact, so the twin is the plain HAVING aggregation).
        "corpus_heavy_hitters": oracle_corpus.corpus_heavy_hitters_sql(),
        # corpus_token_mixture: per-source token-budget sampling (rate
        # derived in-plan from token totals) — oracle-only swept entry.
        "corpus_token_mixture": oracle_corpus.corpus_token_mixture_sql(),
        "corpus_pack_bins": oracle_corpus.corpus_pack_bins_sql(),
        # corpus_pack_bpe: tokenizer-aware packing — BPE train+segment
        # composed into the two-level-offset packer via count_col —
        # oracle-only swept entry.
        "corpus_pack_bpe": oracle_corpus.corpus_pack_bpe_sql(),
        "corpus_decontaminate": oracle_corpus.corpus_decontaminate_sql(),
        # corpus_inverted_index: sharded positional inverted index
        # (hot-token aggregation buffers bounded by doc-id-range shards)
        # — oracle-only swept entry.
        "corpus_inverted_index": oracle_corpus.corpus_inverted_index_sql(),
        # corpus_phrase_search: row-local exact phrase search (pure
        # projection+filter, no shuffle) — oracle-only swept entry.
        "corpus_phrase_search": oracle_corpus.corpus_phrase_search_sql(),
        # corpus_retrieval_mrr: labeled-data-free self-retrieval eval
        # (hits@1/hits@10/MRR@10 over probes querying their own top
        # terms; pinned-fold reciprocal ranks) — oracle-only swept.
        "corpus_retrieval_mrr": oracle_corpus.corpus_retrieval_mrr_sql(),
        # corpus_cooccurrence: association mining (top-k-vocab pair
        # counts + exact-ratio lift) — oracle-only swept entry.
        "corpus_cooccurrence": oracle_corpus.corpus_cooccurrence_sql(),
        # corpus_hybrid_search: sparse+dense retrieval fused by
        # reciprocal-rank fusion (BM25 ranks + exact-cosine ranks) —
        # oracle-only swept entry.
        "corpus_hybrid_search": oracle_corpus.corpus_hybrid_search_sql(),
        # corpus_bm25_search: ranked keyword retrieval (log-free BM25
        # surrogate, pinned-fold per-doc scores, sharded top-k) —
        # oracle-only swept entry.
        "corpus_bm25_search": oracle_corpus.corpus_bm25_search_sql(),
        # doc_oov_rates: per-doc out-of-vocabulary rate vs the corpus's
        # own top-k vocabulary (self-referential noise filter) —
        # oracle-only swept entry.
        "doc_oov_rates": oracle_corpus.doc_oov_rates_sql(k=16),
        # corpus_split_assign: deterministic train/val/test labels from
        # the LCG sampling key (stable under corpus growth) —
        # oracle-only swept entry.
        "corpus_split_assign": oracle_corpus.corpus_split_assign_sql(),
        # corpus_chunk_dedup: chunk-level exact dedup with reassembly
        # (passage-granularity boilerplate removal, first occurrence
        # wins) — oracle-only swept entry.
        "corpus_chunk_dedup": oracle_corpus.corpus_chunk_dedup_sql(),
        # corpus_apply_changes: CDC merge of an upsert/delete change
        # feed onto the standing corpus (latest seq wins, equal-seq
        # delete outranks upsert; standing side never shuffles) —
        # oracle-only swept entry.
        "corpus_apply_changes": oracle_corpus.corpus_apply_changes_sql(),
        # corpus_incremental_rollup: materialized-view maintenance —
        # the per-source rollup updated from the CDC delta alone (base
        # never re-aggregated); the twin recomputes from scratch, so
        # the gate proves incremental ≡ recompute — oracle-only swept.
        "corpus_incremental_rollup": (
            oracle_corpus.corpus_incremental_rollup_sql()
        ),
        # corpus_k_anonymity: privacy release screen — QI group sizes,
        # k=10 compliance, suppression survivor counts (the
        # indirect-identifier complement to the PII scrub) —
        # oracle-only swept entry.
        "corpus_k_anonymity": oracle_corpus.corpus_k_anonymity_sql(),
        # corpus_pit_versions: point-in-time dimension lookup over the
        # CDC feed (as-of join on seq, delete-outranks tiebreak;
        # never-written / deleted probes report is_live=false) —
        # oracle-only swept entry.
        "corpus_pit_versions": oracle_corpus.corpus_pit_versions_sql(),
        # corpus_change_history: SCD2-style validity intervals over the
        # same CDC feed (LEAD per key, chain head = current) —
        # oracle-only swept entry.
        "corpus_change_history": oracle_corpus.corpus_change_history_sql(),
        # events_zorder_keys: Morton interleave of (user_id, minute) —
        # the multi-dimension prunable-layout sort key (pure 64-bit
        # mask-shift steps, bit-exact) — oracle-only swept entry.
        "events_zorder_keys": oracle_corpus.events_zorder_keys_sql(),
        # events_top_users: sharded two-level grouped top-k (hot-group
        # rank sort spread over shards, value-identical to the window
        # form the twin uses) — oracle-only swept entry.
        "events_top_users": oracle_corpus.events_top_users_sql(),
        # corpus_sliding_windows: overlapping token windows (RAG /
        # fixed-context chunking; pure row-local, zero shuffles) —
        # oracle-only swept entry.
        "corpus_sliding_windows": (
            oracle_corpus.corpus_sliding_windows_sql()
        ),
        # corpus_weighted_median: token-weighted median doc length per
        # source (2·cumw ≥ W suffix rule, integer-only; the data-mass
        # length diagnostic) — oracle-only swept entry.
        "corpus_weighted_median": (
            oracle_dataops.corpus_weighted_median_sql()
        ),
        # corpus_weighted_sample: per-row importance sampling — keep
        # probability an exact integer ratio via cross-multiplication
        # on the LCG key (no float round-off) — oracle-only swept entry.
        "corpus_weighted_sample": (
            oracle_corpus.corpus_weighted_sample_sql()
        ),
        # corpus_profile: per-column data-quality stats in one pass
        # (exact counts/distincts, native-order min/max as strings) —
        # oracle-only swept entry.
        "corpus_profile": oracle_corpus.corpus_profile_sql(),
        # multimodal_phash_pairs: the pHash banding + first-shared-band
        # + hamming machinery over engine-reproducible synthetic hashes
        # (the decode-side hash stays pytest-gated) — oracle-only swept
        # entry.
        "multimodal_phash_pairs": (
            oracle_corpus.multimodal_phash_pairs_sql()
        ),
        # corpus_contamination_scores: GRADED decontamination — per-doc
        # benchmark n-gram overlap fraction + dirty flag at 20% (exact
        # integer flag arithmetic, one exactly-rounded division) —
        # oracle-only swept entry.
        "corpus_contamination_scores": (
            oracle_corpus.corpus_contamination_scores_sql()
        ),
        # corpus_distinctive_terms: per-source distinctive vocabulary
        # (exact integer-cross-product lift, sharded per-source top-10)
        # — oracle-only swept entry.
        "corpus_distinctive_terms": (
            oracle_dataops.corpus_distinctive_terms_sql()
        ),
        # corpus_expectations: data-quality assertion report (5 rules,
        # exact violation counts + min-id examples; scan rules in ONE
        # aggregation pass) — oracle-only swept entry.
        "corpus_expectations": oracle_dataops.corpus_expectations_sql(),
        # corpus_rare_token_docs: hapax-dominance noise signal (df-1
        # token share per doc, integer flag) — oracle-only swept entry.
        "corpus_rare_token_docs": (
            oracle_dataops.corpus_rare_token_docs_sql()
        ),
        # corpus_distinct_sketch: deterministic KMV cardinality sketch
        # (portable alternative to approx_count_distinct), bit-exact twin
        "corpus_distinct_sketch": oracle_corpus.corpus_distinct_sketch_sql(),
        "multimodal_profile": oracle_dataops.multimodal_profile_sql(),
        "multimodal_metadata": oracle_dataops.multimodal_metadata_sql(),
        # multimodal_features: REAL-decode feature vectors over synth PPMs,
        # analytic twin (the non-PPM stub branch stays pytest-pinned)
        "multimodal_features": oracle_dataops.multimodal_features_sql(),
        # embedding_projection: Johnson–Lindenstrauss ±1 projection
        # (64 → 16 dims, fixed shared matrix) — oracle-only swept entry.
        "embedding_projection": oracle_dataops.embedding_projection_sql(),
        # embedding_triangles: per-node triangle counts over the
        # near-dup graph (wedge join + closure semi-join) — oracle-only
        # swept entry.
        "embedding_triangles": oracle_dataops.embedding_triangles_sql(),
        # embedding_kmeans: Lloyd k-means training (id-seeded, unrolled
        # iterations, vec_id-ordered fold means — bit-portable) —
        # oracle-only swept entry.
        "embedding_kmeans": oracle_dataops.embedding_kmeans_sql(),
        # embedding_semdedup: SemDeDup semantic dedup (k-means +
        # cell-local cosine ε-graph components + keep-the-atypical
        # representative) — r11
        "embedding_semdedup": oracle_dataops.embedding_semdedup_sql(),
        # embedding_pagerank: 5-iteration PageRank over the symmetrized
        # near-dup graph, src-ordered folds per iteration — oracle-only
        # swept entry (iterative float algorithm under the hash gate).
        "embedding_pagerank": oracle_dataops.embedding_pagerank_sql(),
        # ivfpq_knn_portable: IVF + PQ with residual encoding (coarse
        # cells + residual codebooks + cell-probed ADC + exact re-rank)
        # — oracle-only swept entry, bit-portable end to end.
        "ivfpq_knn_portable": oracle_dataops.ivfpq_knn_portable_sql(),
        # pq_knn_portable: product-quantization search (codebook training,
        # nibble encoding, ADC shortlist, exact re-rank) — oracle-only
        # swept entry, bit-portable end to end.
        "pq_knn_portable": oracle_dataops.pq_knn_portable_sql(),
        # *_prebuilt: the SAME three portable ANN searches answered from
        # PARQUET-PERSISTED index artifacts (similarity.save_ann_index /
        # load_ann_index; build once per corpus snapshot, per-run cost =
        # probe/ADC/re-rank only).  Parquet doubles round-trip exactly,
        # so each shares its inline twin's oracle SQL — the sweep proves
        # load ≡ recompute bit-for-bit.
        "ivf_knn_prebuilt": oracle_dataops.ivf_knn_portable_sql(),
        # ivfpq_index_append: incremental ingest into the frozen IVFPQ
        # index (nearest-current-centroid assign + residual encode with
        # the EXISTING codebooks — no retrain) — oracle-only swept entry.
        "ivfpq_index_append": oracle_dataops.ivfpq_index_append_sql(),
        "pq_knn_prebuilt": oracle_dataops.pq_knn_portable_sql(),
        "ivfpq_knn_prebuilt": oracle_dataops.ivfpq_knn_portable_sql(),
        # multimodal_png_profile: REAL PNG decode (CRC'd chunk walk, zlib
        # inflate, all-five-filter scanline reconstruction) vs the analytic
        # pixel-sum twin — oracle-only swept entry.
        "multimodal_png_profile": oracle_dataops.multimodal_png_profile_sql(),
        # doc_lm_coverage: char-trigram LM-coverage quality score (the
        # integer-exact stand-in for perplexity filtering) — oracle-only
        # swept entry.
        "doc_lm_coverage": oracle_dataops.doc_lm_coverage_sql(),
        # doc_bigram_lm: GRADED LM quality (mean add-1-smoothed bigram
        # probability under the held-in model; ln-free — exactly-rounded
        # divisions + position-pinned float fold) — oracle-only swept
        # entry (r10).
        "doc_bigram_lm": oracle_corpus.doc_bigram_lm_sql(),
        # doc_trigram_lm: stupid-backoff trigram extension (r11) —
        # ln-free, normalization-free, pinned-fold mean
        "doc_trigram_lm": oracle_corpus.doc_trigram_lm_sql(),
        # corpus_bpe_fertility: per-lang tokenizer fertility/compression
        # off the trained BPE (r11)
        "corpus_bpe_fertility": oracle_corpus.corpus_bpe_fertility_sql(),
        # corpus_bpe_fertility_prebuilt: the same eval served from the
        # persisted merge-rule artifact (r12) — load ≡ retrain, shares
        # the twin; separates train cost from the per-ingest eval cost
        "corpus_bpe_fertility_prebuilt": (
            oracle_corpus.corpus_bpe_fertility_sql()
        ),
        # doc_rule_quality: Gopher-style rule-based quality screen (r12)
        # — per-rule booleans + passed-count + verdict, the cheap
        # pre-classifier pass before model scoring
        "doc_rule_quality": oracle_dataops.doc_rule_quality_sql(),
        # corpus_quality_mixture: LM-score-tiered soft curriculum
        # sampling (r11)
        "corpus_quality_mixture": oracle_corpus.corpus_quality_mixture_sql(),
        # corpus_l_diversity: homogeneity-attack screen over the QI key
        # (r11 privacy family extension)
        "corpus_l_diversity": oracle_corpus.corpus_l_diversity_sql(),
        # dedup_drop_witness: drop provenance — min-id witness + score
        # per dropped doc (r11 audit trail)
        "dedup_drop_witness": oracle_dataops.dedup_drop_witness_sql(),
        # embedding_semdedup_screen: frozen-index semantic-dup ingest
        # screen (r11) — batch slice vs the corpus-trained index
        "embedding_semdedup_screen": (
            oracle_dataops.embedding_semdedup_screen_sql()
        ),
        # embedding_semdedup_screen_prebuilt: same screen served from
        # the parquet-persisted (centroids, reps) index artifact (r12)
        # — bit-identical to the inline build, shares its twin
        "embedding_semdedup_screen_prebuilt": (
            oracle_dataops.embedding_semdedup_screen_sql()
        ),
        # doc_normalized: row-local text canonicalization (control-char
        # strip, whitespace collapse, trim, lower) — oracle-only swept
        # entry.
        "doc_normalized": oracle_dataops.doc_normalized_sql(),
        # corpus_snapshot_diff: dataset-version diff (digest-compare
        # full-outer join against a deterministically mutated successor
        # snapshot) — oracle-only swept entry.
        "corpus_snapshot_diff": oracle_dataops.corpus_snapshot_diff_sql(),
        # doc_quality_model: hashed-feature linear classifier inference
        # (fastText-style quality filter; int64 accumulation + one
        # exactly-rounded division) — oracle-only swept entry.
        "doc_quality_model": oracle_dataops.doc_quality_model_sql(),
        # multimodal_gif_profile: REAL GIF decode (from-scratch LZW,
        # palette lookup) vs the analytic pixel-sum twin — oracle-only
        # swept entry.
        "multimodal_gif_profile": oracle_dataops.multimodal_gif_profile_sql(),
        # multimodal_jpeg_profile: REAL baseline-JPEG decode (from-scratch
        # Huffman/DPCM entropy decode + pinned-order IDCT) vs the analytic
        # DC-only round-trip twin — oracle-only swept entry.
        "multimodal_jpeg_profile": oracle_dataops.multimodal_jpeg_profile_sql(),
        # multimodal_audio_profile: REAL RIFF/WAVE PCM-16 decode stats,
        # analytic twin (audio parallel of the PPM image gate)
        "multimodal_audio_profile": oracle_dataops.multimodal_audio_profile_sql(),
        # multimodal_mp3_probe: REAL MPEG-1 Layer III frame-header walk
        # (ID3v2 skip, sync gate, bitrate/rate tables, padding-aware
        # frame sizes) vs the analytic stream geometry — oracle-only
        # swept entry.
        "multimodal_mp3_probe": oracle_dataops.multimodal_mp3_probe_sql(),
        # multimodal_mp3_sideinfo: REAL Layer III side-info bitfield
        # parse (bit-reservoir pointer, scfsi, gr0-ch0 section lengths)
        # vs the analytic 56-bit window — oracle-only swept entry.
        "multimodal_mp3_sideinfo": (
            oracle_dataops.multimodal_mp3_sideinfo_sql()
        ),
        # multimodal_mp3_decode: REAL Layer III gr0-ch0 big_values
        # ENTROPY decode (full side-info parse, slen scalefactor bit
        # accounting, Huffman prefix walk + linbits escapes + sign
        # bits) vs the analytic generative formulas — oracle-only.
        "multimodal_mp3_decode": oracle_dataops.multimodal_mp3_decode_sql(),
        # multimodal_mkv_probe: REAL Matroska/EBML demux (vint parse,
        # guarded Segment/Cluster walk, SimpleBlock extraction) vs the
        # analytic container geometry — oracle-only swept entry.
        "multimodal_mkv_probe": oracle_dataops.multimodal_mkv_probe_sql(),
        # multimodal_g711_profile: REAL G.711 µ-law expansion-table
        # decode stats vs the analytic integer expansion — oracle-only
        # swept entry.
        "multimodal_g711_profile": (
            oracle_dataops.multimodal_g711_profile_sql()
        ),
        # dedup_span_coverage: substring-level duplication signal (Lee
        # et al. span-dedup statistic — fraction of token positions
        # covered by a cross-document 8-gram) with the integer-exact
        # keep decision — oracle-only swept entry.
        "dedup_span_coverage": oracle_dataops.dedup_span_coverage_sql(),
        # dedup_span_screen: ingest-time asymmetric span screen (batch
        # slice scored against the standing corpus's dup-gram set; the
        # streamable form — streaming_span_screen_writer is its
        # drained ≡ batch twin) — oracle-only swept entry.
        "dedup_span_screen": oracle_dataops.dedup_span_screen_sql(),
        # dedup_winnow_fingerprints: MOSS winnowing (SIGMOD'03) — per
        # doc the rightmost-min k-gram hash of every w-window, selected
        # entirely row-local — oracle-only swept entry (r10).
        "dedup_winnow_fingerprints": (
            oracle_dataops.dedup_winnow_fingerprints_sql()
        ),
        # dedup_winnow_pairs: copy-detection pairs over shared winnowed
        # fingerprints with the deterministic df-cap — oracle-only
        # swept entry (r10).
        "dedup_winnow_pairs": oracle_dataops.dedup_winnow_pairs_sql(),
        # dedup_full_stack: exact → near → semantic verdict per doc —
        # the three-layer corpus-dedup discipline under one gate (r11)
        "dedup_full_stack": oracle_dataops.dedup_full_stack_sql(),
        # embedding_threshold_curve: dedup-threshold calibration off one
        # planner-geometry pair pass (r11)
        "embedding_threshold_curve": (
            oracle_dataops.embedding_threshold_curve_sql()
        ),
        # dedup_est_quality: precision/recall of the est pair stream vs
        # the exact-verified stream + mean |est-exact| (r11 eval harness)
        "dedup_est_quality": oracle_dataops.dedup_est_quality_sql(),
        # corpus_temperature_sample: mC4/XLM-R alpha-sampling (r11) —
        # sqrt-flattened stratum quotas, largest-remainder, LCG fill
        "corpus_temperature_sample": (
            oracle_corpus.corpus_temperature_sample_sql()
        ),
        # web_*: URL/host corpus hygiene (r11) — canonicalization,
        # host-mix profile, deterministic per-host cap
        "web_url_canonical": oracle_dataops.web_url_canonical_sql(),
        "web_url_dedup": oracle_dataops.web_url_dedup_sql(),
        "web_blocklist_screen": oracle_dataops.web_blocklist_screen_sql(),
        "web_host_scorecard": oracle_dataops.web_host_scorecard_sql(),
        "web_host_profile": oracle_dataops.web_host_profile_sql(),
        "web_host_cap_sample": oracle_dataops.web_host_cap_sample_sql(),
        # web_registrable_domain / web_domain_cap_sample: eTLD+1
        # extraction under a caller-provided PSL-format suffix table and
        # the subdomain-spray-proof per-domain cap (r12)
        "web_registrable_domain": (
            oracle_dataops.web_registrable_domain_sql()
        ),
        "web_domain_cap_sample": (
            oracle_dataops.web_domain_cap_sample_sql()
        ),
        # web_domain_scorecard: the curation scorecard grouped by
        # eTLD+1 (r12) — one ranked entity per registrable domain
        "web_domain_scorecard": (
            oracle_dataops.web_domain_scorecard_sql()
        ),
        # web_extract_text: markup-to-text extraction (r12) — the step
        # between fetch and every text operator; RE2-safe regex chain
        "web_extract_text": oracle_dataops.web_extract_text_sql(),
        # web_robots_screen: RFC 9309 longest-match allow/disallow over
        # a caller-resolved rule group (r12)
        "web_robots_screen": oracle_dataops.web_robots_screen_sql(),
        # web_admission_pipeline: the crawl-side END-TO-END composition
        # under one hash gate — canonicalize once, blocklist + robots,
        # URL dedup, extract, boilerplate strip, Gopher screen (r13)
        "web_admission_pipeline": (
            oracle_dataops.web_admission_pipeline_sql()
        ),
        # web_idn_canonical: RFC 3492 punycode host normalization —
        # Unicode and xn-- host forms collapse to one canonical key (r13)
        "web_idn_canonical": oracle_dataops.web_idn_canonical_sql(),
        # web_boilerplate_strip: C4/jusText line-level boilerplate
        # screen between markup extraction and the text operators (r13)
        "web_boilerplate_strip": (
            oracle_dataops.web_boilerplate_strip_sql()
        ),
        # web_robots_resolve: RFC 9309 §2.2.1 GROUP resolution from raw
        # robots.txt bodies — longest product-token prefix, '*'
        # fallback, tied groups concatenated (r13)
        "web_robots_resolve": oracle_dataops.web_robots_resolve_sql(),
        # web_robots_screen_resolved: the end-to-end admission decision
        # (resolve + longest-match screen, data-driven patterns) (r13)
        "web_robots_screen_resolved": (
            oracle_dataops.web_robots_screen_resolved_sql()
        ),
        # web_robots_sitemaps: group-independent Sitemap record
        # discovery from the same raw robots.txt fetch (r13)
        "web_robots_sitemaps": oracle_dataops.web_robots_sitemaps_sql(),
        # web_robots_crawl_delay: host-level first-valid Crawl-delay
        # extraction — the defensive-pacing number per host (r13)
        "web_robots_crawl_delay": (
            oracle_dataops.web_robots_crawl_delay_sql()
        ),
        # web_sitemap_urls: sitemap DOCUMENT parsing — urlset/
        # sitemapindex tag-walk, loc CDATA/entity handling,
        # absolute-URL quarantine, lastmod date part (r14)
        "web_sitemap_urls": oracle_dataops.web_sitemap_urls_sql(),
        # web_recrawl_budget: scorecard rank × Crawl-delay politeness
        # -> per-host fetch allocation for the next crawl window (r14)
        "web_recrawl_budget": oracle_dataops.web_recrawl_budget_sql(),
        # web_frontier_urls: sitemap locs canonicalized, collapsed,
        # anti-joined vs the crawled corpus -> fetch candidates (r14)
        "web_frontier_urls": oracle_dataops.web_frontier_urls_sql(),
        # corpus_rule_tiered_sample: Gopher passed-rule count as the
        # curriculum score — classifier-free quality tiering (r12)
        "corpus_rule_tiered_sample": (
            oracle_corpus.corpus_rule_tiered_sample_sql()
        ),
        # dedup_winnow_screen: ingest-time winnowed-fingerprint copy
        # screen (batch slice vs standing corpus fingerprint set;
        # streaming_winnow_screen_writer is its drained ≡ batch twin)
        # — oracle-only swept entry (r10).
        "dedup_winnow_screen": oracle_dataops.dedup_winnow_screen_sql(),
        # corpus_leakage_safe_split: near-dup clusters assigned to
        # train/val/test WHOLE (no near-dup pair straddles an eval
        # boundary) — oracle-only swept entry (r10).
        "corpus_leakage_safe_split": (
            oracle_dataops.corpus_leakage_safe_split_sql()
        ),
        # embedding_balanced_sample: cluster-balanced DIVERSITY sampling
        # (equal per-kmeans-cell quotas flatten the cluster
        # distribution; LCG-hash fill) — oracle-only swept entry.
        "embedding_balanced_sample": (
            oracle_dataops.embedding_balanced_sample_sql()
        ),
        # embedding_silhouette: per-cell SIMPLIFIED silhouette of the
        # trained k-means clustering (centroid a/b distances, exact
        # pos-ordered folds + two-level per-cell means) — oracle-only
        # swept entry.
        "embedding_silhouette": oracle_dataops.embedding_silhouette_sql(),
        # embedding_bfs_dist: multi-source BFS hop distance from the
        # label-0 seed set over the near-dup graph (plan-unrolled
        # expand + groupBy-min vs a recursive-CTE twin) — oracle-only
        # swept entry.
        "embedding_bfs_dist": oracle_dataops.embedding_bfs_dist_sql(),
        # embedding_communities: synchronous label-propagation
        # communities over the near-dup graph (min-label tie-break,
        # integer-exact) — oracle-only swept entry.
        "embedding_communities": oracle_dataops.embedding_communities_sql(),
        # embedding_kcore: k-core peeling over the near-dup graph (the
        # dense-duplication-core screen; pure integer degree rounds,
        # unrolled-CTE twin) — oracle-only swept entry.
        "embedding_kcore": oracle_dataops.embedding_kcore_sql(),
        # multimodal_bmp_profile: REAL 24-bit BI_RGB BMP decode (header
        # parse, 4-byte stride, bottom-up flip, BGR→RGB) vs the analytic
        # pixel-sum twin — oracle-only swept entry.
        "multimodal_bmp_profile": oracle_dataops.multimodal_bmp_profile_sql(),
        # dedup_span_strip: duplicated-span REMOVAL (the salvage rewrite
        # half of span dedup — covered positions cut, survivors
        # re-joined in corpus order; pure integer/string) — oracle-only
        # swept entry.
        "dedup_span_strip": oracle_dataops.dedup_span_strip_sql(),
        # dedup_snm_pairs: sorted-neighborhood near-dup pairs
        # (two-level sharded global rank, rank-band candidate join,
        # exact distinct-token Jaccard) — oracle-only swept entry.
        "dedup_snm_pairs": oracle_dataops.dedup_snm_pairs_sql(),
        # knn_recall_eval: per-query recall@5 of the portable IVF index
        # vs exact brute force (deterministic overlap, one exact
        # division) — the ANN tuning gauge — oracle-only swept entry.
        # basket_part_pairs: market-basket pair mining over orders
        # (co-occurrence support + lift, self-join bounded by basket
        # size) — oracle-only swept entry.
        "basket_part_pairs": oracle.basket_part_pairs_sql(),
        # events_transitions: first-order Markov transition counts +
        # P(next|prev) over per-user consecutive events (streaming lead
        # window, one exact division) — oracle-only swept entry.
        "events_transitions": oracle.events_transitions_sql(),
        # events_key_skew: log2-bucket histogram of per-user event
        # counts (pure integer, the pre-partitioning skew diagnostic)
        # — oracle-only swept entry.
        "events_key_skew": oracle.events_key_skew_sql(),
        # events_gapfill: dense hourly spine per event type with exact
        # gap counts + LOCF value carry (time-series regularization;
        # the carried double is a value copy, never arithmetic) —
        # oracle-only swept entry.
        "events_gapfill": oracle.events_gapfill_sql(),
        "knn_recall_eval": oracle_dataops.knn_recall_eval_sql(),
        # knn_label_vote: kNN majority-label classification over the
        # exact top-5 neighbors (votes-desc/label-asc argmax, truth
        # join for accuracy) — oracle-only swept entry.
        "knn_label_vote": oracle_dataops.knn_label_vote_sql(),
    }

"""Physical-plan audit over every registered driver query (scale guard).

The correctness gate (driver + oracle twins) proves the *values*; this
suite pins the *plans* so a future edit can't silently reintroduce a
100 TB scale-killer while staying value-green:

1. No ``Exchange SinglePartition`` anywhere, except queries whose final
   result IS a global scalar aggregate (a handful of rows by definition —
   the single-partition exchange there carries partial aggregates, not
   data rows).  Global sorts range-partition and global top-k lowers to
   ``TakeOrderedAndProject``, so neither needs an exemption.
2. No row-at-a-time Python UDF (``BatchEvalPython``) in any plan — the
   hot paths are all JVM-side per SURVEY §4.2.  (Arrow-batched
   ``mapInPandas`` is allowed, and only the multimodal decode/feature
   operators use it; they appear here as oracle-only swept entries.)

Plans are built against sf0.001 but partition-count properties are
data-size independent — the same plan shape ships at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

# Queries whose only SinglePartition exchange carries global scalar
# AGGREGATE STATE (a handful of partial-aggregate rows), never data rows.
# Everything else — including every dedup/packing/windowed query — must
# keep full parallelism end-to-end; global sorts range-partition and
# global top-k lowers to TakeOrderedAndProject, so they need no exemption.
GLOBAL_AGG_OK = {
    "tax_batch_totals",  # the result IS one global summary row
    "refund_summary",  # same
    "doc_tfidf_top_terms",  # scalar count(*) = N for the IDF term, then
    # broadcast back — one partial-count row per task through the exchange
    "doc_bigram_lm",  # scalar count_distinct = V for the add-alpha
    # smoothing denominator (one partial row per task through the
    # exchange), broadcast back onto the bigram stream
    "doc_trigram_lm",  # scalar N = train token count for the unigram
    # backoff denominator (one partial row per task through the
    # exchange), broadcast back onto the trigram stream
    "embedding_pagerank",  # scalar min/max(src) bounds for the src-range
    # shard width (one partial row per task), broadcast back onto edges
    "embedding_kmeans",  # same bounds pattern: scalar min/max(vec_id)
    # for the M-step's id-range shard width, broadcast back
    "embedding_silhouette",  # inherits embedding_kmeans' scalar
    # min/max(vec_id) bounds aggregate (same shard-width broadcast)
    "embedding_semdedup",  # inherits embedding_kmeans' scalar
    # min/max(vec_id) bounds aggregate (same shard-width broadcast);
    # the ε-graph self-join itself is cell-keyed, never single-task
    "dedup_full_stack",  # embeds semdedup's scalar bounds aggregate
    # (same one-row shard-width broadcast); every dedup stage is keyed
    "embedding_semdedup_screen",  # embeds the index build's scalar
    # bounds aggregate (frozen-index screen; probes are cell-keyed)
    "corpus_bm25_search",  # scalar N/avgdl corpus stats (one partial
    # row per task through the exchange), broadcast back onto scores
    "events_funnel",  # the result IS k scalar step counts (3 rows)
    "corpus_hybrid_search",  # embeds corpus_bm25_search's scalar
    # N/avgdl stats aggregate (same partial-row exchange)
    "corpus_profile",  # the result IS one global profile row per column
    # (partial aggregates through the exchange, then an in-plan explode)
    "corpus_cooccurrence",  # scalar count(*) = n_docs for the lift
    # denominator (one partial row per task through the exchange),
    # broadcast back onto the k²-bounded pair table
    "basket_part_pairs",  # scalar n_orders count for the support/lift
    # denominators (one partial row per task through the exchange),
    # broadcast back onto the pair table
    "events_gapfill",  # scalar min/max bucket bounds for the spine
    # sequence (one partial row per task through the exchange),
    # exploded and broadcast back onto the tiny series table
    "customer_value_deciles",  # scalar N over the ≤10^4-row shard-count
    # table, and the final cum-share window over the 10 decile rows —
    # the per-customer rank itself is the sharded two-level form
    "corpus_distinctive_terms",  # scalar N = n_docs for the lift
    # denominator (one partial row per task through the exchange),
    # broadcast back onto the (source, token) frequency table
    "events_active_users",  # scalar max-day bound (one partial row per
    # task through the exchange), broadcast back onto the bitmap table
    "corpus_expectations",  # the result IS the 5-row assertion report
    # (scalar conditional aggregates through the exchange)
    "embedding_balanced_sample",  # inherits embedding_kmeans' scalar
    # min/max(vec_id) bounds aggregate, plus the equal-share quota
    # windows over the ≤k-row cell-count table (one row per CELL
    # through the exchange, never data rows)
    "part_promo_revenue",  # the result IS one scalar promo-revenue row
    # (partial aggregates through the exchange)
    "dedup_est_quality",  # the result IS one scalar eval row (shard
    # partials — 256 rows max — through the exchange, never pair rows)
    "corpus_temperature_sample",  # same ≤|strata|-row allocation windows
    # as corpus_budget_sample (flattened-weight variant)
    "corpus_quality_mixture",  # embeds doc_bigram_lm's scalar V
    # aggregate plus the scalar N count for the tier arithmetic (one
    # partial row per task through each exchange, never data rows; the
    # rank itself is the sharded two-level form)
    "corpus_budget_sample",  # the whole largest-remainder allocation
    # (total, remainder rank, leftover seats) runs as unpartitioned
    # windows over the ≤|strata|-row count table — one row per stratum
    # through the exchange, never data rows
    "web_host_scorecard",  # embeds doc_bigram_lm's scalar V aggregate
    # (one partial row per task through the exchange); host rollup and
    # the two-level quality fold are host-keyed
    "web_host_profile",  # scalar total-parseable-rows aggregate over the
    # ≤|hosts|-row per-host table (one row per host through the
    # exchange, never data rows), broadcast back for the share division
    "corpus_retrieval_mrr",  # the result IS one scalar eval row
    # (pinned-order reciprocal-rank fold over ≤|probes| rows through
    # the exchange; embeds corpus_bm25_search's scalar N/avgdl stats)
    "web_domain_scorecard",  # embeds doc_bigram_lm's scalar V aggregate
    # exactly like the exempted web_host_scorecard sibling — the plan's
    # one SinglePartition exchange carries a single count partial
    # (Input [count#L], verified by plan read); domain rollup and the
    # two-level quality fold stay eTLD+1-keyed
    "corpus_rule_tiered_sample",  # inherits quality_tiered_sample's
    # scalar N count for the tier arithmetic exactly like the exempted
    # corpus_quality_mixture sibling — the one SinglePartition exchange
    # carries a single count partial (Input [count#L], verified by plan
    # read); the rank itself is the sharded two-level form
    "web_recrawl_budget",  # embeds web_host_scorecard (doc_bigram_lm's
    # scalar V aggregate) plus its own scalar host-count N for the tier
    # arithmetic — all six SinglePartition exchanges carry a single
    # count partial (Input [count#L], verified by plan read r14); the
    # desirability rank is the sharded two-level form and the delay
    # join is host-keyed
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _all_checked_queries():
    """Every driver-registered query PLUS the oracle-only swept entries
    (same resolution rule as scripts/check_oracle.py: the same-named
    function in plans.queries / plans.queries_dataops) — reclaiming a
    driver slot must not drop a query out of the scale audit."""
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd

    out = dict(entry.queries())
    for name in entry.oracle_sql():
        if name not in out:
            fn = getattr(q, name, None) or getattr(qd, name, None)
            if fn is not None:
                out[name] = fn
    return out


@pytest.fixture(scope="module")
def plans(spark):
    return {
        name: _plan(fn(spark, SF_DIR))
        for name, fn in _all_checked_queries().items()
    }


def test_no_single_partition_exchange_outside_global_aggs(plans):
    offenders = [
        name
        for name, plan in plans.items()
        if "SinglePartition" in plan and name not in GLOBAL_AGG_OK
    ]
    assert offenders == [], (
        "queries funneling data through one task: " + ", ".join(offenders)
    )


def test_exemption_list_is_not_stale(plans):
    # If an exempted query no longer emits a SinglePartition exchange, drop
    # it from GLOBAL_AGG_OK so regressions there get caught again.
    stale = [
        name
        for name in GLOBAL_AGG_OK
        if name in plans and "SinglePartition" not in plans[name]
    ]
    assert stale == [], "tighten GLOBAL_AGG_OK: " + ", ".join(stale)


def test_no_row_python_udfs_anywhere(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], (
        "row-at-a-time Python UDF on a hot path: " + ", ".join(offenders)
    )


def test_partitioned_output_read_back_prunes_partitions(spark, tmp_path):
    """The table-layout story beyond bucketing: results written through
    write_results_partitioned(state) must answer per-state reads with a
    partition-PRUNED scan — the plan's PartitionFilters carries the state
    predicate, so a 100 TB table only lists/reads one state's directories."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.sources.transactions import (
        write_results_partitioned,
    )

    df = spark.createDataFrame(
        [(i, ["CA", "TX", "NY"][i % 3], float(i)) for i in range(30)],
        "transaction_id long, state string, tax double",
    )
    path = str(tmp_path / "results_by_state")
    write_results_partitioned(df, path)

    read = spark.read.parquet(path).filter(F.col("state") == "CA")
    plan = _plan(read)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, "scan has no PartitionFilters section:\n" + plan
    assert any("CA" in ln for ln in pf), (
        "state predicate not pushed into PartitionFilters:\n" + "\n".join(pf)
    )
    assert read.count() == 10


def test_minhash_bucket_local_layout_plan_shape(spark):
    """The auto probe picks the candidate layout at tiny SF, so the module
    fixture never audits the bucket-local layout — pin its shape
    explicitly: full parallelism, no Python UDF, and the token arrays
    never flow through a post-join DISTINCT exchange."""
    from tax_compliance_engine_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.minhash_dup_pairs(docs, plan="bucket_local"))
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan
    # in-join dedup means no aggregate/distinct AFTER the band self-join
    assert "HashAggregate(keys=[doc1" not in plan


def _scan_sections(plan: str) -> list[str]:
    """The per-scan detail blocks of a formatted plan (each 'Scan
    parquet' node's Location/PushedFilters/ReadSchema lines)."""
    blocks, cur = [], None
    for ln in plan.splitlines():
        if "Scan parquet" in ln and ln.lstrip().startswith("("):
            cur = [ln]
        elif cur is not None:
            cur.append(ln)
            if "ReadSchema" in ln:
                blocks.append("\n".join(cur))
                cur = None
    return blocks


def test_filters_push_down_to_parquet_scans(plans):
    """Date/segment predicates must reach the parquet scan as
    PushedFilters — a scan that filters after reading everything is
    the plan that cannot survive 100 TB (row-group statistics prune
    I/O only when the filter is pushed)."""
    cases = {
        # query: (scan table substring, pushed-filter substring)
        "pricing_summary": ("lineitem", "l_shipdate"),
        "order_shipping_priority": ("orders", "o_orderdate"),
        "part_promo_revenue": ("part", "p_brand"),
        "nation_local_supplier_volume": ("orders", "o_orderdate"),
    }
    for name, (table, needle) in cases.items():
        blocks = [
            b for b in _scan_sections(plans[name]) if table in b
        ]
        assert blocks, f"{name}: no {table} scan section found"
        assert any(
            "PushedFilters" in b and needle in b.split("ReadSchema")[0]
            for b in blocks
        ), (
            f"{name}: {needle} not pushed into the {table} scan:\n"
            + "\n---\n".join(blocks)
        )


def test_column_pruning_reaches_parquet_scans(plans):
    """Projection must prune the scan schema: a 2-column rollup that
    reads all 11 lineitem columns ships ~5× the bytes for nothing."""
    # pricing_summary touches 7 of 11 lineitem columns; the join keys
    # must NOT be read
    li_blocks = [
        b for b in _scan_sections(plans["pricing_summary"]) if "lineitem" in b
    ]
    assert li_blocks
    for b in li_blocks:
        schema = b.split("ReadSchema")[-1]
        for dead in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
            assert dead not in schema, (
                f"pricing_summary reads unused column {dead}:\n{b}"
            )
    # doc_text_stats needs only (doc_id, text[, lang]) of documents
    doc_blocks = [
        b
        for b in _scan_sections(plans["doc_text_stats"])
        if "documents" in b
    ]
    assert doc_blocks
    for b in doc_blocks:
        schema = b.split("ReadSchema")[-1]
        assert "n_chars" not in schema, (
            "doc_text_stats reads unused column n_chars:\n" + b
        )


def test_supplier_part_revenue_broadcasts_all_dims(plans):
    """The Q9-shaped rollup must broadcast all three dimension sides —
    the fact table reaches its one (nation, brand) aggregate through
    broadcast joins, never a fact-side repartition for a join."""
    import re

    plan = plans["supplier_part_revenue"]
    # formatted plans render each node twice (tree + detail section);
    # count the numbered detail headers
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3
    assert "SortMergeJoin" not in plan
    # only shuffle: the final narrow group-by (plus AQE readers)
    assert "hashpartitioning(nation" in plan or "hashpartitioning(n_name" in plan


def test_parquet_scans_prune_columns(plans):
    # Every documents.parquet scan must project a subset of columns, never
    # the full table (ReadSchema appears per scan in formatted plans).
    # Spot-check the text queries: none of them needs `meta` or `source`
    # columns... doc_text_stats reads only (doc_id, text).
    plan = plans["doc_text_stats"]
    assert "ReadSchema" in plan
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all("meta" not in ln for ln in scan_lines)


def test_idn_fence_effect_is_pinned_in_optimized_plans(spark):
    """The IDN fold's one-element-shuffle NONDETERMINISM FENCE
    (webops._idn_fenced_cached) only works while Catalyst actually
    treats it as nondeterministic: if a future Spark version constant-
    folds or special-cases 1-element shuffle, the fence disappears
    silently and InferFiltersFromConstraints + PushDownPredicates
    substitute the ENTIRE fold into inferred isnotnull(join-key)
    Filters again (the measured 4-8x regression).  Pin the EFFECT, not
    just the fence's presence (r14 ADVICE fix):

    - the optimized plan still CONTAINS the shuffle wrapper (not
      folded away), exactly once per canonicalization lineage;
    - no Filter node's condition contains the fold subtree.
    """
    from tax_compliance_engine_spark.operators import webops

    docs = spark.createDataFrame(
        [(1, "http://a.com/x"), (2, "http://bücher.com/y"), (3, "junk")],
        "doc_id long, url string",
    )

    canon_plan = (
        webops.url_canonicalize(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert canon_plan.count("shuffle(") == 1, (
        "the 1-element-shuffle fence was folded away (or duplicated) — "
        "the fold is no longer exactly one staged evaluation"
    )
    assert canon_plan.count("xn--") == 1, (
        "the IDN fold appears more than once in a single "
        "canonicalization lineage"
    )

    # a consumer whose equi-join/aggregate historically triggered the
    # inferred-filter substitution: url_dedup (groupBy url_canon + join
    # back).  Two lineages by design (the keep-every-row join shape);
    # what must NEVER happen is a Filter carrying the fold.
    dedup_plan = (
        webops.url_dedup(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert dedup_plan.count("shuffle(") == 2, (
        "url_dedup's fold evaluation count changed — either the fence "
        "was folded away or a lineage was added/removed; re-audit"
    )
    for line in dedup_plan.split("\n"):
        if "Filter " in line:
            assert "shuffle(" not in line and "xn--" not in line, (
                "the IDN fold was substituted into a Filter condition — "
                "the nondeterminism fence stopped working"
            )

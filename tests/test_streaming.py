"""Structured Streaming nexus monitor + periodized nexus measurement tests."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row

from tax_compliance_engine_spark.operators import alerts, nexus
from tax_compliance_engine_spark.schemas import TXN_SCHEMA
from tax_compliance_engine_spark.streaming import nexus_monitor as nm


def txn(i, state, amount, d=dt.date(2024, 3, 1)):
    return Row(
        transaction_id=f"t{i}",
        transaction_date=d,
        amount=Decimal(amount).quantize(Decimal("0.01")),
        state=state,
        city=None,
        item_category=None,
        tax_paid=Decimal("0.00"),
        exemption_certificate=None,
        customer_type="retail",
        pricing_model="exclusive",
    )


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    """Transactions parquet dir: CA over its $500k threshold, TX at 85%
    of its $500k threshold, OK far below its $100k threshold."""
    rows = (
        [txn(i, "CA", "60000.00") for i in range(10)]  # 600k → nexus
        + [txn(100 + i, "TX", "85000.00") for i in range(5)]  # 425k → 85%
        + [txn(200 + i, "OK", "1000.00") for i in range(3)]  # 3k → below
    )
    path = str(tmp_path_factory.mktemp("stream_src") / "txns")
    spark.createDataFrame(rows, TXN_SCHEMA).write.parquet(path)
    return path


def drain(spark, dims, source, checkpoint, name):
    """Drain the monitor over every file in ``source`` the way a close pass
    does: stream → running totals → threshold status → crossing alerts,
    into a complete-mode memory sink with availableNow.  Returns the
    snapshot frame and the finished query."""
    stream = nm.stream_transactions(spark, str(source))
    status = nm.threshold_status(nm.state_running_totals(stream), dims)
    query = (
        nm.crossing_alerts(status)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(name), query


def test_streaming_monitor_end_to_end(spark, dims, source_dir, tmp_path):
    snapshot, _ = drain(spark, dims, source_dir, tmp_path / "ckpt", "nm_e2e")
    by_state = {r.state: r for r in snapshot.collect()}
    assert by_state["CA"].severity == "critical"
    assert by_state["CA"].message == (
        "Economic nexus established in CA but not registered for sales tax "
        "collection"
    )
    assert by_state["TX"].severity == "warning"
    assert by_state["TX"].revenue_pct_of_threshold == pytest.approx(85.0)
    assert "OK" not in by_state


def test_streaming_incremental_state(spark, dims, tmp_path):
    """Totals accumulate across files added between triggers."""
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt2"
    spark.createDataFrame(
        [txn(1, "TX", "300000.00")], TXN_SCHEMA
    ).write.mode("append").parquet(str(src))

    first, _ = drain(spark, dims, src, ckpt, "nm_inc")
    assert first.count() == 0  # 300k of 500k: below the 80% line

    spark.createDataFrame(
        [txn(2, "TX", "250000.00")], TXN_SCHEMA
    ).write.mode("append").parquet(str(src))
    second, _ = drain(spark, dims, src, ckpt, "nm_inc")
    rows = second.collect()
    assert len(rows) == 1  # running total 550k → crossed, despite new-file-only batch
    assert rows[0].state == "TX" and rows[0].severity == "critical"


def test_drained_monitor_equals_batch_nexus_alerts(spark, dims, tmp_path):
    """The monitor applies the batch nexus decision: its drained snapshot
    equals ``nexus_alerts(check_nexus(...), [])`` over the same rows, on
    the edge cases of that decision.  AK (200 transactions or $100k) is
    approaching by transactions alone (170 of 200); TX by revenue (425k of
    500k); CA sits exactly at its $500k threshold; OR has no sales tax; ZZ
    has no threshold row."""
    rows = (
        [txn(i, "AK", "10.00") for i in range(170)]
        + [txn(200 + i, "TX", "85000.00") for i in range(5)]
        + [txn(300 + i, "CA", "50000.00") for i in range(10)]
        + [txn(400, "OR", "900000.00"), txn(401, "ZZ", "900000.00")]
    )
    src = tmp_path / "edge_src"
    spark.createDataFrame(rows, TXN_SCHEMA).write.parquet(str(src))

    snapshot, query = drain(spark, dims, src, tmp_path / "eckpt", "nm_edge")
    got = sorted(
        (r.state, r.severity, r.message, r.revenue, r.txn_count)
        for r in snapshot.collect()
    )

    txns = spark.read.schema(TXN_SCHEMA).parquet(str(src))
    status = nexus.check_nexus(nexus.state_activity(txns), dims)
    batch = alerts.nexus_alerts(status, []).join(status, "state_code")
    want = sorted(
        (r.state_code, r.severity, r.message, r.revenue_in_state,
         r.transactions_in_state)
        for r in batch.collect()
    )
    assert got == want
    assert [(s, sev) for s, sev, *_ in got] == [
        ("AK", "warning"), ("CA", "critical"), ("TX", "warning")
    ]
    # the status projection adds no global sort to the micro-batch plan
    plan = query._jsq.streamingQuery().lastExecution().optimizedPlan().toString()
    assert "Sort" not in plan, plan


# ── periodized nexus (batch extension) ───────────────────────────────


def test_periodized_activity_windows(spark, dims):
    as_of = dt.date(2024, 9, 15)
    rows = [
        # TX: rolling_12 → window (2023-09-15, 2024-09-15]
        txn(1, "TX", "100.00", dt.date(2024, 1, 10)),  # in
        txn(2, "TX", "50.00", dt.date(2023, 9, 15)),  # out (exclusive start)
        txn(3, "TX", "25.00", dt.date(2023, 9, 16)),  # in
        txn(4, "TX", "999.00", dt.date(2022, 5, 1)),  # out
        # CA: current_or_prior → max(current-year, prior-year)
        txn(5, "CA", "10.00", dt.date(2024, 2, 1)),  # current: 10
        txn(6, "CA", "70.00", dt.date(2023, 3, 1)),  # prior: 70
        txn(7, "CA", "5.00", dt.date(2022, 1, 1)),  # neither
    ]
    df = spark.createDataFrame(rows, TXN_SCHEMA)
    act = {r.state: r for r in nexus.periodized_activity(df, dims, as_of).collect()}
    assert act["TX"].revenue == Decimal("125.00")
    assert act["TX"].txn_count == 2
    assert act["CA"].revenue == Decimal("70.00")
    assert act["CA"].txn_count == 1


def test_streaming_bigram_lm_matches_batch(spark, tmp_path):
    """Drained streaming bigram-LM quality screen ≡ the batch
    score-against over the same arrivals (real sf0.001 corpus split),
    float bit-equal — the per-doc pinned fold never sees other docs, so
    micro-batch boundaries can't move any value — and an empty re-drain
    stays idempotent."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.textops import (
        bigram_lm_model,
        bigram_lm_score_against,
    )
    from tax_compliance_engine_spark.streaming.quality_stream import (
        streaming_bigram_lm_writer,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    arrivals = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", "text"
    )
    rows = arrivals.collect()
    first, second = rows[: len(rows) // 2], rows[len(rows) // 2 :]
    src, out = tmp_path / "arrivals", tmp_path / "scored"
    schema = arrivals.schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        qy = (
            streaming_bigram_lm_writer(stream, corpus, str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
        return spark.read.parquet(str(out)).select(
            "doc_id", "n_bigrams", "n_hapax", "mean_prob"
        )

    spark.createDataFrame(first, schema).write.mode("append").parquet(
        str(src)
    )
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(
        str(src)
    )
    got = sorted(map(tuple, drain().collect()))
    assert sorted(map(tuple, drain().collect())) == got  # idempotent
    want = sorted(
        map(
            tuple,
            bigram_lm_score_against(
                arrivals, bigram_lm_model(corpus)
            ).collect(),
        )
    )
    assert got == want  # exact, incl. bit-equal mean_prob floats
    assert len(got) == len(rows)
    assert any(r[3] is not None for r in got)


def test_streaming_trigram_lm_matches_batch(spark, tmp_path):
    """Drained streaming stupid-backoff trigram screen ≡ the batch
    score-against over the same arrivals (real sf0.001 corpus split),
    float bit-equal, idempotent on an empty re-drain — the same
    frozen-model argument as the bigram screen."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.textops import (
        trigram_lm_model,
        trigram_lm_score_against,
    )
    from tax_compliance_engine_spark.streaming.quality_stream import (
        streaming_trigram_lm_writer,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    arrivals = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", "text"
    )
    rows = arrivals.collect()
    first, second = rows[: len(rows) // 2], rows[len(rows) // 2 :]
    src, out = tmp_path / "arrivals", tmp_path / "scored"
    schema = arrivals.schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        qy = (
            streaming_trigram_lm_writer(stream, corpus, str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
        return spark.read.parquet(str(out)).select(
            "doc_id",
            "n_trigrams",
            "n_backoff_bi",
            "n_backoff_uni",
            "mean_score",
        )

    spark.createDataFrame(first, schema).write.mode("append").parquet(
        str(src)
    )
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(
        str(src)
    )
    got = sorted(map(tuple, drain().collect()))
    assert sorted(map(tuple, drain().collect())) == got  # idempotent
    want = sorted(
        map(
            tuple,
            trigram_lm_score_against(
                arrivals, trigram_lm_model(corpus)
            ).collect(),
        )
    )
    assert got == want  # exact, incl. bit-equal mean_score floats
    assert len(got) == len(rows)
    assert any(r[4] is not None for r in got)

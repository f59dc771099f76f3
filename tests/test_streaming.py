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


def test_streaming_sessionization_applyinpandaswithstate(spark, tmp_path):
    """Stateful sessionizer (applyInPandasWithState) closes sessions on gap
    crossings across micro-batches; emitted sessions match the batch
    lag+running-sum semantics on the same events."""
    from tax_compliance_engine_spark.streaming import sessionize

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def ev(eid, uid, offset_sec):
        return Row(
            event_id=eid, ts=t0 + dt.timedelta(seconds=offset_sec), user_id=uid
        )

    schema = "event_id long, ts timestamp, user_id long"
    src = tmp_path / "ev_src"
    # micro-batch 1: the real events (u1 has an in-batch gap crossing)
    spark.createDataFrame(
        [ev(1, 1, 0), ev(2, 1, 60), ev(3, 1, 2000), ev(4, 2, 10)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    # micro-batch 2: far-future sentinel per user — advances the watermark
    # and forces the open sessions closed (sentinel sessions stay open and
    # are never emitted)
    spark.createDataFrame(
        [ev(90, 1, 5 * 86400), ev(91, 2, 5 * 86400)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        sessionize.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == {
        (1, base, base + 60, 2),
        (1, base + 2000, base + 2000, 1),
        (2, base + 10, base + 10, 1),
    }


def test_streaming_sessionization_timeout_closes_idle_session(spark, tmp_path):
    """A user with no further events gets their open session closed by the
    event-time timeout once later micro-batches advance the watermark."""
    from tax_compliance_engine_spark.streaming import sessionize

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def ev(eid, uid, offset_sec):
        return Row(
            event_id=eid, ts=t0 + dt.timedelta(seconds=offset_sec), user_id=uid
        )

    schema = "event_id long, ts timestamp, user_id long"
    src = tmp_path / "ev_src"
    # u2 appears once, then goes idle; u1 keeps the watermark moving
    spark.createDataFrame([ev(1, 1, 0), ev(2, 2, 5)], schema).coalesce(
        1
    ).write.parquet(str(src / "f1"))
    spark.createDataFrame([ev(3, 1, 86400)], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    spark.createDataFrame([ev(4, 1, 2 * 86400)], schema).coalesce(1).write.parquet(
        str(src / "f3")
    )
    spark.createDataFrame([ev(5, 1, 3 * 86400)], schema).coalesce(1).write.parquet(
        str(src / "f4")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        sessionize.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_timeout_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_timeout_out").collect()
    }
    # u2's single-event session MUST have been closed by timeout, not data
    assert (2, base + 5, base + 5, 1) in got
    # u1's day-apart singleton sessions close on each next event's arrival
    assert (1, base, base, 1) in got and (1, base + 86400, base + 86400, 1) in got


def test_streaming_sessionization_late_arrivals_within_watermark(spark, tmp_path):
    """Cross-micro-batch late events inside the watermark: an in-gap late
    event pulls the open session's START back (s = min(s, t)), and a late
    event more than a gap before the open session becomes its own closed
    earlier session — neither is silently folded forward."""
    from tax_compliance_engine_spark.streaming import sessionize

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)

    def ev(eid, uid, offset_sec):
        return Row(
            event_id=eid, ts=t0 + dt.timedelta(seconds=offset_sec), user_id=uid
        )

    schema = "event_id long, ts timestamp, user_id long"
    src = tmp_path / "ev_src"
    # batch 1: u1 opens (1000..1060); u2 opens at 3000 (this also sets the
    # global max event time, so the 1h watermark keeps batch-2 lates alive)
    spark.createDataFrame(
        [ev(1, 1, 1000), ev(2, 1, 1060), ev(3, 2, 3000)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    # batch 2: u1's late 980 is in-gap (980 ≥ 1000-1800) → merges, start
    # pulled back; u2's late 1000 is > gap before its open 3000 → separate
    # closed earlier singleton
    spark.createDataFrame(
        [ev(4, 1, 980), ev(5, 2, 1000)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    # batch 3: far-future sentinels close the open sessions
    spark.createDataFrame(
        [ev(90, 1, 5 * 86400), ev(91, 2, 5 * 86400)], schema
    ).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        sessionize.sessionize_stream(stream, watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("sessions_late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events)
        for r in spark.sql("SELECT * FROM sessions_late_out").collect()
    }
    assert got == {
        (1, base + 980, base + 1060, 3),  # start pulled back by the late 980
        (2, base + 1000, base + 1000, 1),  # earlier closed singleton
        (2, base + 3000, base + 3000, 1),
    }


def test_stream_stream_attribution_matches_batch_range_join(spark, tmp_path):
    """The watermarked stream-stream interval join must produce exactly the
    batch range_join's pair set when the whole corpus is drained."""
    import shutil

    from tax_compliance_engine_spark.plans import queries
    from tax_compliance_engine_spark.streaming import attribution

    src = tmp_path / "ev"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "events.parquet")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def stream(event_type):
        return (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .filter(f"event_type = '{event_type}'")
        )

    q = (
        attribution.attribution_join(stream("purchase"), stream("click"))
        .writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.p_event_id, r.click_event_id, r.gap_us)
        for r in spark.sql("SELECT * FROM attr_out").collect()
    }
    want = {
        (r.user_id, r.p_event_id, r.click_event_id, r.gap_us)
        for r in queries.events_range_pairs(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_trending_tokens_drained_equals_batch(spark, tmp_path):
    """Drained trending-token stream ≡ the batch twin over the same docs,
    across two micro-batch drains (windowed state carries counts between
    them), with a final out-of-horizon doc advancing the watermark so
    every data window closes and emits."""
    import datetime as dt

    from tax_compliance_engine_spark.streaming.trending import (
        trending_tokens,
        trending_tokens_batch,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def doc(i, minutes, text):
        return (i, t0 + dt.timedelta(minutes=minutes), text)

    schema = "doc_id long, ts timestamp, text string"
    first = [
        doc(0, 5, "spark spark shuffle"),
        doc(1, 20, "spark join"),
        doc(2, 70, "join join shuffle"),
    ]
    second = [
        doc(3, 80, "join spark spark"),
        # far-future sentinel: pushes the watermark past every data window
        doc(99, 60 * 24, "flush"),
    ]
    src, out = tmp_path / "docs", tmp_path / "trends"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            trending_tokens(stream, window="1 hour", min_count=2)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "window_start timestamp, window_end timestamp, token string, n long"
        ).parquet(str(out))

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    got = sorted(
        (r.window_start, r.token, r.n) for r in drain().collect()
    )

    batch = trending_tokens_batch(
        spark.createDataFrame(first + second, schema),
        window="1 hour",
        min_count=2,
    )
    want = sorted(
        (r.window_start, r.token, r.n)
        for r in batch.collect()
        # the sentinel's own window never closes (nothing later advances
        # the watermark past it) — exclude it from the comparison target
        if r.window_start < t0 + dt.timedelta(hours=12)
    )
    assert got == want and len(want) >= 3
    # cross-drain count: "join" in hour 2 spans both drains (1 + 2 occurrences)
    hour2 = t0 + dt.timedelta(hours=1)
    assert (hour2, "join", 3) in got


def test_trending_topk_drained_equals_batch(spark, tmp_path):
    """Drained per-window TOP-K token stream ≡ the batch twin: the
    foreachBatch rank-on-emit sees each closed window's complete counts
    in one micro-batch, so ranks (with the deterministic n-desc/token
    tiebreak) match the batch computation exactly across two drains."""
    import datetime as dt

    from tax_compliance_engine_spark.streaming.trending import (
        trending_topk_batch,
        trending_topk_writer,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def doc(i, minutes, text):
        return (i, t0 + dt.timedelta(minutes=minutes), text)

    schema = "doc_id long, ts timestamp, text string"
    first = [
        doc(0, 5, "spark spark shuffle join state"),
        doc(1, 20, "spark join join window"),
        doc(2, 70, "join join shuffle shuffle state"),
    ]
    second = [
        doc(3, 80, "join spark spark spark shuffle"),
        doc(99, 60 * 24, "flush"),  # sentinel: closes every data window
    ]
    src, out = tmp_path / "docs", tmp_path / "topk"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            trending_topk_writer(
                stream, str(out), k=2, window="1 hour", min_count=1
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "window_start timestamp, window_end timestamp, "
            "token string, n long, rank int"
        ).parquet(str(out))

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    got = sorted(
        (r.window_start, r.rank, r.token, r.n) for r in drain().collect()
    )

    want = sorted(
        (r.window_start, r.rank, r.token, r.n)
        for r in trending_topk_batch(
            spark.createDataFrame(first + second, schema),
            k=2,
            window="1 hour",
            min_count=1,
        ).collect()
        if r.window_start < t0 + dt.timedelta(hours=12)  # open sentinel window
    )
    assert got == want
    # exactly k rows per closed data window, ranks 1..k
    hour1 = [r for r in got if r[0] == t0]
    hour2 = [r for r in got if r[0] == t0 + dt.timedelta(hours=1)]
    assert [r[1] for r in hour1] == [1, 2]
    assert [r[1] for r in hour2] == [1, 2]
    # hour 2 spans both drains: join 2+1, shuffle 2+1, spark 0+3 — a
    # three-way tie at n=3 whose top-2 breaks deterministically on token
    assert hour2[0][2:] == ("join", 3)
    assert hour2[1][2:] == ("shuffle", 3)


def test_streaming_dau_drained_equals_batch(spark, tmp_path):
    """Drained streaming DAU (watermarked dropDuplicates chained into a
    windowed count) ≡ the batch twin: repeat users inside a day count
    once — including repeats ACROSS drains — and each closed day emits
    exactly once."""
    import datetime as dt

    from tax_compliance_engine_spark.streaming.active_users import (
        batch_dau,
        streaming_dau,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, user_id long"

    def ev(i, hours, user):
        return (i, t0 + dt.timedelta(hours=hours), user)

    first = [
        ev(0, 1, 10),
        ev(1, 2, 10),   # same user same day -> counts once
        ev(2, 3, 20),
        ev(3, 26, 10),  # next day
    ]
    second = [
        ev(4, 5, 30),   # late arrival for day 1, NEW user, within watermark?
        ev(5, 27, 40),
        # sentinel far in the future closes every data day
        ev(99, 24 * 30, 999),
    ]
    # late-arrival note: the day-1 watermark after the first drain sits at
    # 26h - 1h = 25h > end of day 1, so ev(4) at hour 5 is LATE and will
    # be dropped by the streaming dedup — exclude day-1 late rows from the
    # batch target the same way the engine excludes them.
    src, out = tmp_path / "events", tmp_path / "dau"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            streaming_dau(stream, watermark_delay="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "day_start timestamp, day_end timestamp, dau long"
        ).parquet(str(out))

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    got = sorted((r.day_start, r.dau) for r in drain().collect())

    batch_rows = [r for r in first + second if r[0] != 99 and r[0] != 4]
    want = sorted(
        (r.day_start, r.dau)
        for r in batch_dau(
            spark.createDataFrame(batch_rows, schema)
        ).collect()
    )
    assert got == want
    # day 1: users {10, 20} once each despite the repeat
    assert (t0, 2) in got and len(got) == 2


def test_streaming_value_sketch_drained_equals_batch(spark, tmp_path):
    """Drained streaming min-k quantile sketch ≡ the batch sketch over
    the union of all arrivals — bit-for-bit, including a duplicated-id
    redelivery overlap between the drains (absorbed by the in-merge id
    dedupe) — and the state directory holds ≤ k rows per group."""
    from tax_compliance_engine_spark.operators.topk import (
        grouped_quantile_sketch,
    )
    from tax_compliance_engine_spark.streaming.quantile_stream import (
        sketch_from_state,
        streaming_value_sketch_writer,
    )

    schema = "event_id long, event_type string, cents long"
    types = ["click", "view", "buy"]

    def row(i):
        # deterministic scattered values; 3 types, 600 rows per type
        return (i, types[i % 3], (i * 7919) % 100_000)

    first = [row(i) for i in range(0, 1200)]
    second = [row(i) for i in range(1100, 1800)]  # ids 1100-1199 redelivered
    src = tmp_path / "src"
    state = tmp_path / "state"
    quantiles = {"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99}

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            streaming_value_sketch_writer(
                stream, str(state), ["event_type"], "event_id", k=64
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    drain()

    got = sorted(
        sketch_from_state(
            spark, str(state), ["event_type"], "cents", quantiles
        ).collect()
    )
    all_rows = {r[0]: r for r in first + second}  # id-keyed union
    want = sorted(
        grouped_quantile_sketch(
            spark.createDataFrame(sorted(all_rows.values()), schema),
            ["event_type"],
            "cents",
            "event_id",
            quantiles,
            k=64,
        ).collect()
    )
    assert got == want  # exact float equality — same sample, same interp
    assert all(r.sample_n == 64 for r in got)  # the cut actually bound
    state_rows = spark.read.parquet(str(state))
    assert state_rows.count() == 64 * len(types)  # O(k · groups) state


def test_streaming_reach_sketch_drained_equals_batch(spark, tmp_path):
    """Drained streaming reach monitor ≡ the batch KMV reach sketch over
    the union of arrivals — the SAME min-k state the quantile monitor
    maintains, keyed by a REPEATING entity id (user_id): in-batch and
    in-merge id dedupes make repeats occupy one sample slot.  Also pins
    the below-k exact branch (a type with < k distinct users reports
    its exact count)."""
    from tax_compliance_engine_spark.operators.topk import (
        grouped_reach_sketch,
    )
    from tax_compliance_engine_spark.streaming.quantile_stream import (
        reach_from_state,
        streaming_value_sketch_writer,
    )

    schema = "event_id long, event_type string, user_id long"
    # 'big': 300 distinct users (>> k=32), each seen twice across drains;
    # 'small': 5 distinct users (< k) with heavy in-batch repeats
    first = [(i, "big", 1000 + i % 300) for i in range(0, 450)] + [
        (10_000 + i, "small", 1 + i % 5) for i in range(25)
    ]
    second = [(i, "big", 1000 + i % 300) for i in range(450, 900)] + [
        (20_000 + i, "small", 1 + i % 3) for i in range(9)
    ]
    src, state = tmp_path / "src", tmp_path / "state"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            streaming_value_sketch_writer(
                stream, str(state), ["event_type"], "user_id", k=32
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain()
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    drain()

    got = sorted(
        reach_from_state(
            spark, str(state), ["event_type"], "user_id", k=32
        ).collect()
    )
    want = sorted(
        grouped_reach_sketch(
            spark.createDataFrame(first + second, schema).select(
                "event_type", "user_id"
            ),
            ["event_type"],
            "user_id",
            k=32,
        ).collect()
    )
    assert got == want  # exact float equality — same k-th hash
    by_type = {r.event_type: r for r in got}
    assert by_type["small"].n_kept == 5  # below k: exact
    assert by_type["small"].est_reach == 5.0
    assert by_type["big"].n_kept == 32  # cut bound; estimate in range
    assert 150 < by_type["big"].est_reach < 600


def test_streaming_sketch_state_crash_recovery(spark, tmp_path):
    """A writer that died between the state renames leaves the sample
    parked at `<state>.old`; the next micro-batch adopts it instead of
    restarting from an empty sample — the drained result matches the
    uninterrupted run exactly."""
    import os

    from tax_compliance_engine_spark.streaming.quantile_stream import (
        sketch_from_state,
        streaming_value_sketch_writer,
    )

    schema = "event_id long, event_type string, cents long"
    first = [(i, "t", (i * 7919) % 1000) for i in range(200)]
    second = [(i, "t", (i * 7919) % 1000) for i in range(200, 400)]
    src, state = tmp_path / "src", tmp_path / "state"
    quantiles = {"p50_est": 0.5}

    def drain(ckpt):
        q = (
            streaming_value_sketch_writer(
                spark.readStream.schema(schema).parquet(str(src)),
                str(state),
                ["event_type"],
                "event_id",
                k=32,
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(first, schema).write.mode("append").parquet(str(src))
    drain("ckpt")
    # simulate the crash window: previous state parked at .old
    os.rename(str(state), f"{state}.old")
    spark.createDataFrame(second, schema).write.mode("append").parquet(str(src))
    drain("ckpt")
    got = sketch_from_state(
        spark, str(state), ["event_type"], "cents", quantiles
    ).collect()

    # uninterrupted reference run over the same arrivals
    src2, state2 = tmp_path / "src2", tmp_path / "state2"
    spark.createDataFrame(first + second, schema).write.parquet(str(src2))
    q = (
        streaming_value_sketch_writer(
            spark.readStream.schema(schema).parquet(str(src2)),
            str(state2),
            ["event_type"],
            "event_id",
            k=32,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = sketch_from_state(
        spark, str(state2), ["event_type"], "cents", quantiles
    ).collect()
    assert sorted(got) == sorted(want)
    assert not os.path.isdir(f"{state}.old")  # recovery cleaned up


def test_streaming_sketch_stale_staging_reaped(spark, tmp_path):
    """A staging dir left by a crashed writer under a DIFFERENT pid is
    reaped on the next merge (the restarted process has a new pid, so
    a pid-scoped cleanup would leak it forever)."""
    import os

    from tax_compliance_engine_spark.streaming.quantile_stream import (
        sketch_from_state,
        streaming_value_sketch_writer,
    )

    schema = "event_id long, event_type string, cents long"
    src, state = tmp_path / "src", tmp_path / "state"
    stale = f"{state}.staging.424242"  # not our pid
    os.makedirs(stale)
    with open(os.path.join(stale, "part-zombie.parquet"), "w") as fh:
        fh.write("half-written")
    spark.createDataFrame(
        [(i, "t", i * 3) for i in range(100)], schema
    ).write.parquet(str(src))
    q = (
        streaming_value_sketch_writer(
            spark.readStream.schema(schema).parquet(str(src)),
            str(state),
            ["event_type"],
            "event_id",
            k=32,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert not os.path.isdir(stale)  # zombie reaped
    assert not [  # no staging dirs of any pid survive a clean publish
        p for p in os.listdir(tmp_path) if ".staging." in p
    ]
    got = sketch_from_state(
        spark, str(state), ["event_type"], "cents", {"p50_est": 0.5}
    ).collect()
    assert len(got) == 1 and got[0].sample_n == 32


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

#!/usr/bin/env python3
"""Tax-compliance engine benchmark.

    python3 perfbench/run.py --workload {monthly_close,quote} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench_work/``; the engine is driven through its public functions on
``local[nproc]``; every output is checked against the package's DuckDB oracle
SQL.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``) named in
``BENCHMARK.json``.  See README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from tracing import JobCounts, Tracer, group_counts

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
PACKAGE = ROOT / "tax_compliance_engine_spark"
SPEC = ROOT / "BENCHMARK.json"

CLOSE_ROWS = 120_000  # above reports.DETAIL_EXPORT_DRIVER_ROW_CAP: the distributed export
CLOSE_MALFORMED = 240
QUOTE_REQUESTS = 600
QUOTE_WARMUP = 8
CLOSE_PARQUET_FILES = 8


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in 0..100."""
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class RssSampler:
    """Peak summed RSS of this process and its descendants (the Spark JVM
    and its Python workers), sampled by ``rss.py`` in a separate process."""

    def __init__(self, interval: float = 0.2) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, str(BENCH / "rss.py"), str(os.getpid()), str(interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        out, _ = self._proc.communicate(input="", timeout=30)
        return int(out) / 1024.0


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The session's deployment setting for the JVM heap (8g by default): the
    # inputs need far less, and a smaller heap keeps the run's memory small.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(1, str(ROOT))  # after perfbench/ itself


def spark_setup(nproc: int, work: Path):
    """The set-up every CLI invocation pays: session, then dims loaded and
    materialized.  Returns (spark, dims, session_s, dims_s)."""
    from tax_compliance_engine_spark.dims import load_dims
    from tax_compliance_engine_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )
    t1 = time.perf_counter()
    dims = load_dims(spark)
    for name in dims.__dataclass_fields__:
        getattr(dims, name).count()
    t2 = time.perf_counter()
    return spark, dims, t1 - t0, t2 - t1


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it takes its Python workers with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def provenance(spark, nproc: int, load_at_start: str) -> dict:
    import platform

    import pyspark

    return {
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_at_start": load_at_start,
        "session_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


@dataclass
class Run:
    """One workload run: its inputs, what it measured, what failed."""

    seed: int
    seconds: float
    traced: bool
    work: Path
    nproc: int
    pre: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    latencies_s: list[float] = field(default_factory=list)
    txn_per_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)
    tracer: Tracer = field(init=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.traced)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")


def _money_eq(a, b) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) < 0.005


# ── monthly_close ─────────────────────────────────────────────────────


def prepare_close(run: Run) -> None:
    import gen
    import oracle

    csv_path, parquet_dir = run.work / "close.csv", run.work / "close_parquet"
    gen.close_inputs(csv_path, parquet_dir, run.seed, CLOSE_ROWS, CLOSE_MALFORMED,
                     CLOSE_PARQUET_FILES)
    run.pre = {"csv": csv_path, "parquet": parquet_dir,
               "expected": oracle.close_expected(csv_path, gen.AS_OF, run.nproc)}


def check_close(res, exp: dict) -> list[str]:
    """Mismatches between one close pass and the oracle (empty = correct)."""
    from close import REGISTERED_STATES

    bad = []
    if not res.rejects == exp["rejected"] == CLOSE_MALFORMED:
        bad.append(f"rows_rejected {res.rejects}, oracle {exp['rejected']}, planted {CLOSE_MALFORMED}")
    s, t = res.tax_report["summary"], exp["totals"]
    for mine, theirs in (("total_transactions", "transaction_count"),
                         ("total_taxable", "total_taxable"), ("total_tax", "total_tax"),
                         ("total_exempt", "total_exempt"), ("exempt_transactions", "exempt_count")):
        if not _money_eq(s[mine], t[theirs]):
            bad.append(f"tax {mine} {s[mine]} != {t[theirs]}")
    states = {r["state"]: r for r in res.tax_report["state_breakdown"]}
    for st in set(states) | set(exp["states"]):
        r, e = states.get(st), exp["states"].get(st)
        if r is None or e is None or not all(_money_eq(r[a], e[b]) for a, b in (
                ("transaction_count", "transaction_count"), ("taxable_amount", "total_taxable"),
                ("tax_collected", "total_tax"), ("exempt_amount", "exempt_amount"))):
            bad.append(f"tax state {st}")
    rs, er = res.refund_report["summary"], exp["refund"]
    for mine, theirs in (("overpayments_found", "overpayment_count"),
                         ("total_overpayment", "total_overpayment"),
                         ("estimated_recovery", "estimated_recovery")):
        if not _money_eq(rs[mine], er[theirs]):
            bad.append(f"refund {mine} {rs[mine]} != {er[theirs]}")
    claims = {c["state"]: c for c in res.refund_report["refund_claims"]}
    if set(claims) != set(exp["claims"]) or not all(
        _money_eq(claims[k]["amount_requested"], e["total_refund_requested"])
        and claims[k]["transaction_count"] == e["transaction_count"]
        for k, e in exp["claims"].items()
    ):
        bad.append("refund claims")
    nx = res.nexus_report
    got = {r["state"]: True for r in nx["nexus_established"]}
    got.update({r["state"]: False for r in nx["approaching_threshold"] + nx["below_threshold"]})
    if got != {k: e["has_nexus"] for k, e in exp["nexus"].items()}:
        bad.append("nexus status")
    if {r["state"] for r in nx["approaching_threshold"]} != {
            k for k, e in exp["nexus"].items() if e["approaching_threshold"]}:
        bad.append("nexus approaching")
    want_alerts = sorted(
        [("critical", k) for k, e in exp["nexus"].items()
         if e["has_nexus"] and k not in REGISTERED_STATES]
        + [("warning", k) for k, e in exp["nexus"].items()
           if not e["has_nexus"] and e["approaching_threshold"]]
    )
    if sorted(a[:2] for a in res.alerts) != want_alerts:
        bad.append("alerts")
    # the monitor saw the same rows as the batch nexus
    for st, severity, revenue, txn_count, _ in res.stream_snapshot:
        e = exp["nexus"].get(st)
        if e is None or not _money_eq(revenue, e["revenue_in_state"]) \
                or txn_count != e["transactions_in_state"] \
                or (severity == "critical") != e["has_nexus"]:
            bad.append(f"monitor state {st}")
    if {s[0] for s in res.stream_snapshot if s[1] == "critical"} != {
            k for k, e in exp["nexus"].items() if e["has_nexus"]}:
        bad.append("monitor nexus states")
    return bad


def run_close(spark, dims, run: Run) -> None:
    import close
    import stream

    csv_path, parquet_dir, exp = run.pre["csv"], run.pre["parquet"], run.pre["expected"]
    out_dir = run.work / "close_out"
    off = Tracer(False)
    first_digest: list[str] = []

    def one_pass(t, label: str):
        t0 = time.perf_counter()
        res = close.close_pass(spark, dims, csv_path, parquet_dir, out_dir, t)
        elapsed = time.perf_counter() - t0
        bad = check_close(res, exp)
        digest = res.digest()
        first_digest[:] = first_digest or [digest]
        if digest != first_digest[0]:
            bad.append("result digest differs from the first pass")
        run.record(not bad, f"close {label}: {'; '.join(bad)}")
        return res, elapsed

    res, warm_s = one_pass(off, "warm-up pass")
    log(f"warm-up pass {warm_s:.2f} s")
    run.record(res.stream_snapshot == stream.batch_recompute(spark, dims, parquet_dir),
               "monitor snapshot != the same functions as one batch read")

    tracer = run.tracer
    counts = JobCounts()
    # A traced run interleaves untraced passes, the tracing-overhead
    # baseline, in ABA order so that a linear warm-up trend cancels.
    baseline: list[float] = []
    min_passes = 3 if run.traced else 1
    k = 0
    start = time.perf_counter()
    while k < min_passes or time.perf_counter() - start < run.seconds:
        if run.traced and k % 2:
            baseline.append(one_pass(off, f"untraced pass {k}")[1])
        else:
            with tracer.op(spark, f"close-{k}", counts):
                res, elapsed = one_pass(tracer, f"pass {k}")
            if run.traced:
                # micro-batches run under the monitor query's run id as group
                counts.add(group_counts(spark.sparkContext, res.stream_run_id))
            run.latencies_s.append(elapsed)
        k += 1
    run.txn_per_s = CLOSE_ROWS * len(run.latencies_s) / sum(run.latencies_s)
    if not run.traced:
        return

    n = len(run.latencies_s)
    selfs = close.prefix_self_times(spark, dims, csv_path)
    rr = res.refund_report
    batches = [p for p in res.stream_progress if p["numInputRows"]]
    state = batches[-1]["stateOperators"][0]
    run.layer.update({
        "streaming.nexus_monitor.self_s": tracer.total(stream.LAYER) / n,
        "streaming.nexus_monitor.batches": len(batches),
        "streaming.nexus_monitor.batch_ms_p50": statistics.median(
            p["durationMs"]["triggerExecution"] for p in batches),
        "streaming.nexus_monitor.rows_per_batch": statistics.mean(
            p["numInputRows"] for p in batches),
        "streaming.nexus_monitor.state_rows": state["numRowsTotal"],
        "streaming.nexus_monitor.state_bytes": state["memoryUsedBytes"],
        "streaming.nexus_monitor.commit_ms_p50": statistics.median(
            p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
            for p in batches),
        "sources.transactions.self_s": selfs["sources.transactions"],
        "sources.transactions.rows_in": CLOSE_ROWS,
        "sources.transactions.rows_rejected": res.rejects,
        "sources.transactions.jobs": close.scan_jobs(spark, csv_path),
        "operators.tax.plan_ms": 1000 * tracer.total("operators.tax") / n,
        "operators.tax.self_s": selfs["operators.tax"],
        "operators.tax.rows_out": res.transactions,
        "operators.refund.self_s": selfs["operators.refund"],
        "operators.refund.records": rr["summary"]["overpayments_found"],
        "operators.refund.record_ratio": rr["summary"]["overpayments_found"] / res.transactions,
        "operators.refund.claims": len(rr["refund_claims"]),
        "operators.nexus.self_s": selfs["operators.nexus"],
        "operators.nexus.states": res.nexus_report["summary"]["total_states_analyzed"],
        "operators.alerts.self_s": selfs["operators.alerts"],
        "operators.alerts.alerts": len(res.alerts),
        "reports.self_s": close.reports_self_time(spark, dims, csv_path, run.work / "reports_out"),
        "reports.rows_collected": res.rows_collected(),
        "reports.bytes_written": res.bytes_written(),
        "spark.jobs_per_op": counts.jobs / n,
        "spark.stages_per_op": counts.stages / n,
        "spark.tasks_per_op": counts.tasks / n,
        "spark.failed_tasks": counts.failed_tasks,
        "trace.overhead_ms": 1000 * (statistics.median(run.latencies_s) - statistics.median(baseline)),
    })


# ── quote ─────────────────────────────────────────────────────────────


def prepare_quote(run: Run) -> None:
    import gen
    import oracle

    requests = gen.quotes(run.seed, QUOTE_REQUESTS)
    run.pre = {"requests": requests,
               "expected": oracle.quote_expected(requests, gen.AS_OF, run.nproc)}


def run_quote(spark, dims, run: Run) -> None:
    import quote
    from tax_compliance_engine_spark import rates_api

    requests, expected = run.pre["requests"], run.pre["expected"]
    db = rates_api.RateDatabase(spark)
    off = Tracer(False)
    tracer = run.tracer
    traced_baskets: list[float] = []
    plain_baskets: list[float] = []
    basket_counts = JobCounts()
    op_counts = JobCounts()
    items_done = 0

    def serve(i: int, t) -> tuple[float, int, bool, str]:
        """Answer request ``i``: (latency, items priced, correct, detail)."""
        req, want = requests[i % len(requests)], expected[i % len(requests)]
        t0 = time.perf_counter()
        if req["kind"] == "basket":
            got = quote.price_basket(spark, dims, req["items"], t)
            elapsed = time.perf_counter() - t0
            ok = got == want
        else:
            got = quote.lookup(db, req, t)
            elapsed = time.perf_counter() - t0
            ok = got[:2] == want[:2] and abs(got[2] - want[2]) < 1e-12 and got[3] == want[3]
        return elapsed, len(req.get("items", ())), ok, f"request {i}: got {got}, want {want}"

    # The driver JVM keeps JIT-compiling the planner for dozens of requests,
    # so the warm-up is a fixed number of requests: every run then measures
    # from the same point of that curve.
    for i in range(QUOTE_WARMUP):
        run.record(*serve(i, off)[2:])
    i = QUOTE_WARMUP
    start = time.perf_counter()
    while time.perf_counter() - start < run.seconds:
        basket = requests[i % len(requests)]["kind"] == "basket"
        # in a traced run every other basket runs untraced: the baseline
        # for the tracing overhead
        t = off if (basket and i % 2) else tracer
        c = JobCounts()
        with t.op(spark, f"quote-{i}", c):
            elapsed, n_items, ok, what = serve(i, t)
        run.record(ok, what)
        run.latencies_s.append(elapsed)
        items_done += n_items
        op_counts.add(c)
        if basket and t.enabled:
            traced_baskets.append(elapsed)
            basket_counts.add(c)
        elif basket:
            plain_baskets.append(elapsed)
        i += 1
    run.txn_per_s = items_done / (time.perf_counter() - start)
    if not run.traced:
        return

    nq = max(len(traced_baskets), 1)
    n_ops = max(tracer.count("op"), 1)
    run.layer.update({
        "operators.tax.plan_ms": 1000 * tracer.total("operators.tax") / nq,
        "operators.tax.rows_out": items_done,
        "operators.tax.jobs_per_quote": basket_counts.jobs / nq,
        "operators.tax.tasks_per_quote": basket_counts.tasks / nq,
        # a quote's one result job is its collect; the rest broadcast dims
        "dims.broadcast_jobs_per_op": (basket_counts.jobs - len(traced_baskets)) / nq,
        "rates_api.lookup_us": 1e6 * tracer.total("rates_api") / max(tracer.count("rates_api"), 1),
        "cli.quote_plan_ms": 1000 * tracer.total("cli.quote_plan") / nq,
        "cli.quote_exec_ms": 1000 * tracer.total("cli.quote_exec") / nq,
        "spark.jobs_per_op": op_counts.jobs / n_ops,
        "spark.stages_per_op": op_counts.stages / n_ops,
        "spark.tasks_per_op": op_counts.tasks / n_ops,
        "spark.failed_tasks": op_counts.failed_tasks,
        "trace.overhead_ms": 1000 * (statistics.median(traced_baskets or [0.0])
                                     - statistics.median(plain_baskets or [0.0])),
    })


WORKLOADS = {
    "monthly_close": (prepare_close, run_close),
    "quote": (prepare_quote, run_quote),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Tax-compliance engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PACKAGE / "__init__.py").is_file() or not SPEC.is_file():
        log(f"engine package or BENCHMARK.json missing under {ROOT}; run from a checkout")
        return 2
    spec = json.loads(SPEC.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    load_at_start = Path("/proc/loadavg").read_text().strip()
    nproc = len(os.sched_getaffinity(0))
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    prepare, workload = WORKLOADS[args.workload]
    run = Run(seed=args.seed, seconds=args.seconds, traced=bool(args.trace), work=work, nproc=nproc)
    try:
        prepare(run)
        sampler = RssSampler()
        try:
            spark, dims, session_s, dims_s = spark_setup(nproc, work)
            spark.sparkContext.setLogLevel("ERROR")
            prov = provenance(spark, nproc, load_at_start)
            log(json.dumps({"provenance": prov}))
            try:
                workload(spark, dims, run)
            except Exception:
                traceback.print_exc()
                run.record(False, "workload raised")
        finally:
            peak_mb = sampler.stop()
            stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        measured = {"session.start_s": session_s, "dims.load_s": dims_s, **run.layer,
                    "txn_per_s": run.txn_per_s, "peak_rss_mb": peak_mb,
                    "fail_frac": run.failed / max(run.attempted, 1)}
        path = WORK / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        run.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                "provenance": prov, "metrics": measured})
        log(f"trace written to {path}")
    else:
        # [0.0] only when no timed operation completed; correct is false then
        lat_ms = [1000 * x for x in run.latencies_s] or [0.0]
        measured = {
            "setup_s": session_s + dims_s,
            "latency_ms_p50": statistics.median(lat_ms),
            "latency_ms_p90": pct(lat_ms, 90),
        }
    unknown = set(measured) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {n: {"value": measured.get(n, 0), "unit": u} for n, u in units.items()}
    log(f"{len(run.latencies_s)} timed operations, {run.failed}/{run.attempted} failed")
    print(json.dumps({
        "correct": run.failed == 0 and bool(run.latencies_s),
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

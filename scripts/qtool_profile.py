"""Per-query phase profiler: split CONSTRUCTION (Python DataFrame build,
including any eager jobs the operator runs), DRIVER PLANNING (analyze +
optimize + physical planning, forced via executedPlan before any job),
and EXECUTION (noop write) wall time, over N repeats.

Usage: python scripts/qtool_profile.py <query> [query ...] [--sf sf_dir]
                                       [--runs N]
The split tells you WHERE a slow query spends its seconds: a large
planning share is the Catalyst/driver tax (guide §7.3), a large
execution share is executor work (guide §1.1).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    import __spark_entry__ as entry
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd
    from tax_compliance_engine_spark.session import get_spark

    spark = get_spark(app_name="tce-qtool-profile")
    queries = dict(entry.queries())
    for name in names:
        if name not in queries:
            queries[name] = getattr(q, name, None) or getattr(qd, name)

    for name in names:
        fn = queries[name]
        # one untimed run on the profiled input (JIT/codegen/broadcast-
        # planning warmup)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        rows = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()  # force analyze+optimize+plan
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0))
        spark.catalog.clearCache()
        best = min(rows, key=lambda x: x[3])
        print(
            f"{name}: construct={best[0]:.3f}s plan={best[1]:.3f}s "
            f"exec={best[2]:.3f}s total={best[3]:.3f}s   "
            f"(all runs: {[tuple(round(v, 3) for v in t) for t in rows]})"
        )


if __name__ == "__main__":
    main()

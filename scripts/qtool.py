"""Per-query measurement helper for optimization rounds (guide §1).

Usage:
  python scripts/qtool.py plan  <out_dir> <query> [query ...]   # explain("formatted") -> <out_dir>/<query>.txt
  python scripts/qtool.py time  <runs> <query> [query ...]      # noop-sink wall times (min + all runs)
  python scripts/qtool.py both  <out_dir> <runs> <query> ...

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
$SPARK_GRAFT_CPUS like bench.py.  Each query resolved the same way the
bench resolves names: __spark_entry__.queries() first, then
plans.queries / plans.queries_dataops module attributes.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def resolve(name):
    import __spark_entry__ as entry
    from tax_compliance_engine_spark.plans import queries as q
    from tax_compliance_engine_spark.plans import queries_dataops as qd

    queries = dict(entry.queries())
    if name in queries:
        return queries[name]
    return getattr(q, name, None) or getattr(qd, name)


def main() -> None:
    mode = sys.argv[1]
    if mode == "plan":
        out_dir, names, runs = Path(sys.argv[2]), sys.argv[3:], 0
    elif mode == "time":
        out_dir, runs, names = None, int(sys.argv[2]), sys.argv[3:]
    else:
        out_dir, runs, names = Path(sys.argv[2]), int(sys.argv[3]), sys.argv[4:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tax_compliance_engine_spark.session import get_spark

    spark = get_spark(app_name="qtool")
    if runs:
        # bench.py's warmup discipline: run each query once at sf0.001 so
        # JIT/codegen/broadcast-planning overhead doesn't pollute the
        # timed sf-scale runs (cold-JVM minima are NOT comparable to the
        # bench sidecar's numbers)
        for name in names:
            resolve(name)(spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        spark.catalog.clearCache()
    for name in names:
        fn = resolve(name)
        if out_dir is not None:
            out_dir.mkdir(parents=True, exist_ok=True)
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (out_dir / f"{name}.txt").write_text(txt)
            print(f"plan {name} -> {out_dir / (name + '.txt')}")
        if runs:
            spark.sparkContext.setJobDescription(f"qtool:{name}")
            walls = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                walls.append(round(time.perf_counter() - t0, 3))
            print(f"time {name}: min={min(walls)} runs={walls}", flush=True)
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

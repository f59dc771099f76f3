"""SparkSession factory with scale-ready defaults.

Defaults are tuned for correctness-first local runs but express the choices
that matter on a 1000-executor cluster: AQE on (runtime coalescing + skew-join
splitting), explicit shuffle partitioning, and Arrow for the few pandas-UDF
operators.  ANSI mode is left at Spark's default, which is on: overflows,
bad casts and a missing key in ``element_at`` raise.  The permissive
reference semantics (unknown states warn instead of raising — SURVEY §2 P4)
are expressed in the plans instead, e.g. the tax lookups use
``try_element_at``.  The generated-code cache holds the engine's whole
working set, so a pipeline that runs the same plans again (a second close
pass, the next quote) reuses its compiled classes instead of recompiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tax-compliance-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        # State-keyed aggregations skew toward CA/TX/NY at 100 TB (SURVEY §4.2).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the pandas-UDF escape hatches (similarity, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch cap 4000 (default 10000): r14 measured the banded-
        # Levenshtein kernel ~5-15% faster at 4000 but deferred adoption
        # to an idle box; r15's interleaved A/B confirms it — 4000 won
        # all 6 editdist/er/png head-to-heads and 9 of 12 including the
        # binary decoders (the 3 losses all sat in one contended window).
        # Smaller batches are also the memory-safe direction for the
        # multi-MB binary cells the decoders move (guide §4.2: lower the
        # cap for large binary cells).  Env-overridable for cluster
        # tuning where rows are narrow and numeric.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_MAX_RECORDS_PER_BATCH", "4000"),
        )
        # Spark's default 10 MB broadcast threshold, made explicit.  No seed
        # dim is joined: every layer reads them as literal-map lookups.  The
        # small frames callers bring (the calendar's filed_periods) are
        # marked F.broadcast where they are joined.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Deterministic session timezone so date/timestamp semantics match the
        # DuckDB oracle regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # HotSpot never JIT-compiles methods over 8000 bytecode bytes
        # (-XX:DontCompileHugeMethods), but Spark only abandons
        # whole-stage codegen above 65535 — in the 8000-65535 window the
        # generated hot loop runs INTERPRETED, slower than Spark's own
        # fallback evaluator with subexpression elimination.  Aligning
        # the limit with HotSpot's makes Spark fall back exactly when
        # the JIT would have given up: measured 5.4× on the incremental
        # minhash screen (55 s → 10.2 s at 10× data, whose 16-component
        # estimate + first-shared-band residual blows past 8000 bytes).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Spark's generated-code cache, sized so that each class the
        # engine compiles is compiled once per JVM.  One close pass
        # compiles ~134 distinct Janino classes, in the same order on
        # every pass; the default LRU of 100 entries evicted each before
        # its next use, so every pass recompiled 132 of them and HotSpot
        # JIT-compiled them anew.  Measured working sets (distinct
        # classes per fresh JVM, set-up included): a benchmark close run
        # 146, traced 183; a quote run 12; the CLI subcommands 7-79.
        # 1000 leaves >5x headroom.  A static conf: CodeGenerator reads
        # it once, at the JVM's first codegen, so it must be set where
        # the session is first built, which for the CLI, the benchmark
        # and the test fixture is here.  clearCache() does not empty it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

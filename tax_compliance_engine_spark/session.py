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

The driver JVM starts from a dynamic class-data-sharing (CDS) archive: the
classes a session loads, parsed and verified once and then mapped by every
later JVM on the same JDK and Spark install, which halves the session's
start.  The first session makes it.  With no archive yet, the JVM is
launched with ``-XX:ArchiveClassesAtExit`` (JDK 19's
``-XX:+AutoCreateSharedArchive``, done by hand for JDK 17), and an exit
hook lets that JVM exit and then publishes its dump.  The archive lives in
the user cache directory (``$XDG_CACHE_HOME`` or ``~/.cache``, then
``tax_compliance_engine_spark/``); deleting that directory resets it.
Wherever the archive can be neither used nor made — a class path that is
not the plain Spark install, a caller's own CDS flag, an unwritable cache,
a JVM already running — the session launches exactly as without one.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Each of these puts more on the driver's class path than the Spark jars and
# the conf directory.  An archive dumped under one class path is rejected
# under another, and JDK 17 refuses to start a dumping JVM at all when a
# non-empty directory is on it.
_CLASS_PATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
)
# Where a caller can pass JVM flags; any CDS flag there is left to rule alone.
_JAVA_OPTION_CONFS = ("spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions")
_JAVA_OPTION_ENV = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")
_CDS_FLAGS = ("-Xshare:", "-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit")
# The JVM's unified-logging warnings go to stdout by default, where a stale
# archive's "Unable to use shared archive" would land in the CLI's output.
# A dump also warns about each of the ~1000 classes it leaves out (signed
# jars, failed verification); those are silenced.
_JVM_WARNINGS_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr"
_DUMP_WARNINGS_TO_STDERR = "-Xlog:disable -Xlog:all=warning,cds=error:stderr"
# A dump took 12 s on 4 cores; this bounds the exit hook's wait for it.
_DUMP_WAIT_S = 300


def get_spark(
    app_name: str = "tax-compliance-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (default: this machine's core count) gives the
    local core count when no ``master`` is passed and the shuffle
    partitions when no ``shuffle_partitions`` is.  A JVM this call launches
    starts from the class-data-sharing archive (module docstring)."""
    conf = extra_conf or {}
    archive = _class_archive(conf)
    if archive is not None:
        try:
            return _launch_with_archive(
                _builder(app_name, master, shuffle_partitions, conf),
                conf.get("spark.driver.extraJavaOptions"),
                archive,
            )
        except PySparkRuntimeError:
            if SparkContext._gateway is not None:
                raise  # the JVM started: not the archive's doing
            # JDK 17 crashes at start on a truncated archive; drop it and
            # launch as without one.
            with contextlib.suppress(OSError):
                archive.unlink(missing_ok=True)
    return _builder(app_name, master, shuffle_partitions, conf).getOrCreate()


def _builder(
    app_name: str, master: str | None, shuffle_partitions: int | None, conf: dict[str, str]
):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

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
        # cap for large binary cells).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4000")
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
        # Hadoop's local file system forks `readlink` on every checkpoint
        # rename through the default FileContext-based manager.  The engine
        # checkpoints on the local file system, where `rename` is atomic,
        # so the FileSystem-based manager's rename is as safe and forks
        # nothing.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def _launch_with_archive(builder, caller_options: str | None, archive: Path) -> SparkSession:
    """Launch the JVM from ``archive``, or, when there is none yet, have it
    dump one at exit; the caller's JVM options follow the engine's."""
    dump = None
    if archive.is_file():
        flags = f"{_JVM_WARNINGS_TO_STDERR} -XX:SharedArchiveFile={archive}"
    else:
        _remove_orphaned_dumps(archive)
        dump = archive.with_name(f"{archive.name}.{os.getpid()}.tmp")
        flags = f"{_DUMP_WARNINGS_TO_STDERR} -XX:ArchiveClassesAtExit={dump}"
    if caller_options:
        flags = f"{flags} {caller_options}"
    builder = builder.config("spark.driver.extraJavaOptions", flags)
    # The launcher puts SPARK_CONF_DIR on the class path; the dump and every
    # use of it must see the same, empty, directory there.
    with _environ("SPARK_CONF_DIR", str(archive.parent / "conf")):
        spark = builder.getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None)
    if dump is not None and proc is not None:
        atexit.register(_publish_dump, proc, dump, archive)
    return spark


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME", "")
    root = Path(base) if os.path.isabs(base) else Path.home() / ".cache"
    return root / "tax_compliance_engine_spark"


def _class_archive(conf: dict[str, str]) -> Path | None:
    """The CDS archive path for the JVM ``get_spark`` is about to launch with
    ``conf``, or None when that JVM must launch as if there were none.

    Only a launch whose class path is Spark's jars plus a conf directory of
    nothing but ``*.template`` files qualifies: ``get_spark`` swaps that
    directory for an empty one in the cache, which reads the same."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM to launch
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "").lower().replace("-", "")
    if (
        any(os.environ.get(v) for v in _CLASS_PATH_ENV)
        or conf.get("spark.driver.extraClassPath")
        or "classpath" in submit_args
    ):
        return None
    java_options = [conf.get(k, "") for k in _JAVA_OPTION_CONFS]
    java_options += [os.environ.get(v, "") for v in _JAVA_OPTION_ENV]
    if any(f in o for o in java_options for f in _CDS_FLAGS):
        return None
    spark_home = Path(_find_spark_home())
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    cache = _cache_dir()
    empty = cache / "conf"
    try:
        if conf_dir.is_dir() and any(
            not p.name.endswith(".template") for p in conf_dir.iterdir()
        ):
            return None
        key = _install_key(spark_home)
        empty.mkdir(parents=True, exist_ok=True)
        if any(empty.iterdir()) or not os.access(cache, os.W_OK | os.X_OK):
            return None
    except OSError:
        return None
    return cache / f"driver-{key}.jsa"


def _install_key(spark_home: Path) -> str:
    """A digest of what an archive is bound to: the JDK build the launcher
    runs and the jars it puts on the class path, whose sizes and mtimes the
    JVM checks before it maps an archive.  Raises OSError when either is
    missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = Path(java_home, "bin", "java") if java_home else Path(shutil.which("java") or "java")
    java = java.resolve(strict=True)
    jars = sorted((spark_home / "jars").glob("*.jar"))
    if not jars:
        raise FileNotFoundError(spark_home / "jars")
    digest = hashlib.sha256()
    for path in (java, java.parents[1] / "lib" / "modules", *jars):
        st = path.stat()
        digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


def _remove_orphaned_dumps(archive: Path) -> None:
    """Delete the dumps of processes that died before publishing them."""
    for dump in archive.parent.glob(f"{archive.name}.*.tmp"):
        pid = dump.name[len(archive.name) + 1 : -len(".tmp")]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                dump.unlink()
        except OSError:
            pass  # alive, someone else's


def _publish_dump(proc: subprocess.Popen, dump: Path, archive: Path) -> None:
    """Exit hook: let the dumping JVM exit, then publish its archive.

    The gateway JVM exits when its stdin closes, which otherwise happens
    only once this process is gone, with no one left to publish the dump.
    ``os.replace`` gives the archive a new inode, so it never writes to a
    file that a running JVM has mapped."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()  # else its accumulator server reports the JVM's exit as an error
    proc.stdin.close()
    try:
        status = proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        status = proc.wait()
    if status == 0:
        with contextlib.suppress(OSError):
            os.replace(dump, archive)
    with contextlib.suppress(OSError):
        dump.unlink(missing_ok=True)


@contextlib.contextmanager
def _environ(name: str, value: str):
    saved = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if saved is None:
            del os.environ[name]
        else:
            os.environ[name] = saved

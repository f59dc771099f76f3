"""``get_spark`` sizes the session to the machine unless told otherwise, and
starts its JVM from a class-data-sharing archive when it can.

Apart from the last test, the builder is replaced by a recorder, so no JVM
starts."""

from __future__ import annotations

import os
import subprocess
import sys
import types
from pathlib import Path

import pytest
from pyspark.errors import PySparkRuntimeError

from tax_compliance_engine_spark import session

REPO = Path(__file__).resolve().parents[1]
SAMPLE = REPO / "tests" / "data" / "transactions_sample.csv"
JAVA_OPTIONS = "spark.driver.extraJavaOptions"
CALLER_OPTIONS = "-Djava.io.tmpdir=/tmp/caller"
DEAD_PID = 4194305  # above Linux's largest pid_max
INSTALL_KEY = session._install_key  # the fixture stubs it


class RecordingBuilder:
    def __init__(self, fail_on: str | None = None):
        self.conf = {}
        self.fail_on = fail_on

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf["launch SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
        if self.fail_on and self.fail_on in self.conf.get(JAVA_OPTIONS, ""):
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return self.conf


class RecordingSession:
    """Stands in for ``SparkSession``: a fresh recorder per ``builder``."""

    def __init__(self, fail_on: str | None = None):
        self.fail_on = fail_on
        self.launches = []

    @property
    def builder(self):
        self.launches.append(RecordingBuilder(self.fail_on))
        return self.launches[-1]


@pytest.fixture(autouse=True)
def spark_install(monkeypatch, tmp_path):
    """No JVM running, a cache under ``tmp_path``, a conf directory of
    templates only, and no environment that changes the class path."""
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    for name in (*session._CLASS_PATH_ENV, *session._JAVA_OPTION_ENV, "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(
        session, "SparkContext", types.SimpleNamespace(_gateway=None, _active_spark_context=None)
    )
    monkeypatch.setattr(session, "_install_key", lambda spark_home: "k")
    return conf_dir


def archive_path(tmp_path) -> Path:
    return tmp_path / "cache" / "tax_compliance_engine_spark" / "driver-k.jsa"


def built_conf(monkeypatch, fail_on: str | None = None, **kwargs) -> dict:
    monkeypatch.setattr(session, "SparkSession", RecordingSession(fail_on))
    return session.get_spark(**kwargs)


def test_default_session_uses_the_machines_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    conf = built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_cpus_variable_and_explicit_arguments_win(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    conf = built_conf(monkeypatch)
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[2]", "2")

    conf = built_conf(monkeypatch, master="local[4]", shuffle_partitions=4)
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[4]", "4")


def test_first_jvm_dumps_the_archive_after_the_callers_options(monkeypatch, tmp_path, spark_install):
    archive = archive_path(tmp_path)
    conf = built_conf(monkeypatch, extra_conf={JAVA_OPTIONS: CALLER_OPTIONS})
    dump = f"{archive}.{os.getpid()}.tmp"
    assert conf[JAVA_OPTIONS] == (
        f"{session._DUMP_WARNINGS_TO_STDERR} -XX:ArchiveClassesAtExit={dump} {CALLER_OPTIONS}"
    )
    empty = archive.parent / "conf"
    assert conf["launch SPARK_CONF_DIR"] == str(empty)
    assert not any(empty.iterdir())
    assert os.environ["SPARK_CONF_DIR"] == str(spark_install)


def test_later_jvms_map_the_published_archive(monkeypatch, tmp_path):
    archive = archive_path(tmp_path)
    archive.parent.mkdir(parents=True)
    archive.write_bytes(b"archive")
    conf = built_conf(monkeypatch)
    assert conf[JAVA_OPTIONS] == f"{session._JVM_WARNINGS_TO_STDERR} -XX:SharedArchiveFile={archive}"


@pytest.mark.parametrize("case", ["conf file", "HADOOP_CONF_DIR", "-Xshare:off", "unwritable cache"])
def test_launches_as_before_when_the_archive_cannot_apply(monkeypatch, tmp_path, spark_install, case):
    options = CALLER_OPTIONS
    if case == "conf file":
        (spark_install / "spark-defaults.conf").write_text("spark.driver.extraClassPath /x\n")
    elif case == "HADOOP_CONF_DIR":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    elif case == "-Xshare:off":
        options = f"-Xshare:off {CALLER_OPTIONS}"
    else:
        (tmp_path / "not-a-dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir"))
    conf = built_conf(monkeypatch, extra_conf={JAVA_OPTIONS: options})
    assert conf[JAVA_OPTIONS] == options
    assert conf["launch SPARK_CONF_DIR"] == str(spark_install)


def test_a_jvm_that_cannot_start_from_the_archive_starts_without_it(monkeypatch, tmp_path, spark_install):
    archive = archive_path(tmp_path)
    archive.parent.mkdir(parents=True)
    archive.write_bytes(b"truncated")
    conf = built_conf(monkeypatch, fail_on="-XX:SharedArchiveFile")
    assert JAVA_OPTIONS not in conf
    assert conf["launch SPARK_CONF_DIR"] == str(spark_install)
    assert not archive.exists()
    assert len(session.SparkSession.launches) == 2


def test_dumps_orphaned_by_a_dead_process_are_removed(monkeypatch, tmp_path):
    archive = archive_path(tmp_path)
    archive.parent.mkdir(parents=True)
    orphan = Path(f"{archive}.{DEAD_PID}.tmp")
    running = Path(f"{archive}.{os.getppid()}.tmp")
    orphan.write_bytes(b"")
    running.write_bytes(b"")
    built_conf(monkeypatch)
    assert not orphan.exists() and running.exists()


@pytest.mark.parametrize("status", [0, 1])
def test_exit_hook_publishes_only_a_clean_exits_dump(tmp_path, status):
    """The hook closes the JVM's stdin, waits for it to exit, and publishes
    its dump only when it exited with status 0."""
    dump, archive = tmp_path / "a.jsa.1.tmp", tmp_path / "a.jsa"
    jvm = subprocess.Popen(
        [sys.executable, "-c",
         f"import sys; sys.stdin.read(); open({str(dump)!r}, 'w').write('x'); sys.exit({status})"],
        stdin=subprocess.PIPE,
    )
    session._publish_dump(jvm, dump, archive)
    assert jvm.returncode == status
    assert not dump.exists()
    assert archive.exists() == (status == 0)


def test_install_key_follows_the_jdk_and_the_jars(monkeypatch, tmp_path):
    jdk, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "lib").mkdir()
    (jdk / "bin" / "java").write_text("")
    (jdk / "lib" / "modules").write_text("17")
    (spark_home / "jars").mkdir(parents=True)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    with pytest.raises(OSError):
        INSTALL_KEY(spark_home)  # no jars
    jar = spark_home / "jars" / "spark-core.jar"
    jar.write_text("v1")
    key = INSTALL_KEY(spark_home)
    assert INSTALL_KEY(spark_home) == key
    jar.write_text("v2.0")
    assert INSTALL_KEY(spark_home) != key


def test_cli_creates_the_archive_then_starts_from_it(tmp_path):
    """Two ``report`` runs on an empty cache: the first JVM dumps the archive
    as it exits, the second maps it, and both print the same."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"),
           "SPARK_DRIVER_MEMORY": "2g", "SPARK_PRINT_LAUNCH_COMMAND": "1"}
    for name in (*session._CLASS_PATH_ENV, "SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        env.pop(name, None)
    cache = tmp_path / "cache" / "tax_compliance_engine_spark"
    cmd = [sys.executable, "-m", "tax_compliance_engine_spark", "report", "--file", str(SAMPLE)]
    runs = []
    for _ in range(2):
        proc = subprocess.run(cmd, env=env, cwd=REPO, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-2000:]
        runs.append(proc)
        archives = list(cache.glob("*.jsa"))
        assert len(archives) == 1 and not list(cache.glob("*.tmp")), list(cache.iterdir())
    first, second = runs
    launch = next(line for line in second.stderr.splitlines() if line.startswith("Spark Command:"))
    assert f"-XX:SharedArchiveFile={archives[0]}" in launch
    assert "Unable to use shared archive" not in second.stderr
    assert "Total Tax: $130.00" in first.stdout
    assert first.stdout == second.stdout
    assert "[warning]" not in first.stdout + second.stdout

"""session.get_spark sizes the driver from the host it starts on: the
heap must fit the memory actually available (a 48g heap with -Xms16g
cannot be committed on a 15 GB host and the JVM dies before Spark
starts), explicit settings pass through unchanged, and a caller's JVM
options extend the engine's rather than replacing them. Python workers
start through the engine's worker daemon unless the caller picks another,
and a caller's worker PYTHONPATH is extended, not replaced. No JVM starts
here: the builder's options are read back instead."""

from __future__ import annotations

import os

import pytest

from flatnav_spark import session

GIB = 1 << 30


def _gb(mem: str) -> int:
    assert mem.endswith("g")
    return int(mem[:-1])


def test_chosen_heap_fits_host_memory():
    host = session.host_memory_bytes()
    assert host > 0
    mem, xms = session.driver_memory_conf(host)
    heap = _gb(mem) * GIB
    assert heap <= max(GIB, host * session.HEAP_SHARE)
    if xms is not None:
        assert int(xms[len("-Xms"):-1]) * GIB <= heap


@pytest.mark.parametrize("host_gb,mem,xms", [
    (15, "7g", None),   # 4-core, 15 GB host: no -Xms16g
    (1, "1g", None),
    (40, "20g", "-Xms16g"),
    (512, "48g", "-Xms16g"),
])
def test_driver_memory_conf(host_gb, mem, xms):
    assert session.driver_memory_conf(host_gb * GIB) == (mem, xms)


def _builder_options(monkeypatch, env, extra_conf=None):
    """get_spark's builder options, without starting a JVM."""
    from pyspark.sql import SparkSession

    for k in ("FLATNAV_SPARK_DRIVER_MEM", "FLATNAV_SPARK_DRIVER_JAVA_OPTS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 15 * GIB)
    captured = {}

    def fake_get_or_create(self):
        captured.update(self._options)
        raise RuntimeError("stop before the JVM")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    with pytest.raises(RuntimeError, match="stop before the JVM"):
        session.get_spark("t", cores=2, extra_conf=extra_conf)
    return captured


def test_env_settings_pass_through_unchanged(monkeypatch):
    opts = _builder_options(monkeypatch, {
        "FLATNAV_SPARK_DRIVER_MEM": "3g",
        "FLATNAV_SPARK_DRIVER_JAVA_OPTS": "-Xms512m -XX:-UsePerfData"})
    assert opts["spark.driver.memory"] == "3g"
    assert opts["spark.driver.extraJavaOptions"] == "-Xms512m -XX:-UsePerfData"


def test_host_sized_defaults_and_merged_java_opts(monkeypatch):
    opts = _builder_options(monkeypatch, {})
    assert opts["spark.driver.memory"] == "7g"
    assert "spark.driver.extraJavaOptions" not in opts
    opts = _builder_options(monkeypatch, {"FLATNAV_SPARK_DRIVER_JAVA_OPTS": "-Xms1g"},
                            extra_conf={"spark.driver.extraJavaOptions": "-Dx=1"})
    assert opts["spark.driver.extraJavaOptions"] == "-Xms1g -Dx=1"


def test_worker_daemon_and_pythonpath(monkeypatch):
    opts = _builder_options(monkeypatch, {})
    assert opts["spark.python.daemon.module"] == "flatnav_spark.worker_daemon"
    assert opts["spark.executorEnv.PYTHONPATH"] == session.ENGINE_ROOT
    assert os.path.isfile(os.path.join(session.ENGINE_ROOT, "flatnav_spark", "worker_daemon.py"))


def test_caller_pythonpath_merged(monkeypatch):
    opts = _builder_options(monkeypatch, {}, extra_conf={
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(["/deps/a", "/deps/b"])})
    assert opts["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/deps/a", "/deps/b", session.ENGINE_ROOT])


def test_caller_daemon_module_wins(monkeypatch):
    opts = _builder_options(monkeypatch, {},
                            extra_conf={"spark.python.daemon.module": "pyspark.daemon"})
    assert opts["spark.python.daemon.module"] == "pyspark.daemon"

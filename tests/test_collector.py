"""The driver JVM's garbage collector.

``get_spark()`` launches its driver JVM on the serial collector
(``session.launch_confs``) unless the launch already names a collector,
which wins: the JVM refuses to start with two. A session the engine did not
build, set up through ``configure()`` alone, keeps the JVM's default (G1).
A collector is fixed when the JVM starts, so each session below runs in a
subprocess of its own.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from lime_on_spark_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, sys
from pyspark.sql import SparkSession
from lime_on_spark_spark.session import configure, get_spark
if sys.argv[1] == "get_spark":
    spark = get_spark("collector-probe", cpus=1)
else:
    spark = configure(
        SparkSession.builder.master("local[1]").appName("collector-probe-foreign")
        .config("spark.ui.enabled", "false").getOrCreate()
    )
mf = spark._jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "collectors": sorted(b.getName() for b in mf.getGarbageCollectorMXBeans()),
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""

SERIAL = ["Copy", "MarkSweepCompact"]


def _clean_env(tmp_path) -> dict[str, str]:
    """This environment with no JVM option variable and an empty Spark conf
    directory: a launch that names no collector."""
    env = {k: v for k, v in os.environ.items() if k not in session._JVM_OPTION_VARS}
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    env.update(PYTHONPATH=ROOT, SPARK_CONF_DIR=str(conf_dir))
    return env


def _launch(entry: str, env: dict[str, str]) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, entry],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_get_spark_runs_the_serial_collector(tmp_path):
    jvm = _launch("get_spark", _clean_env(tmp_path))
    assert jvm["collectors"] == SERIAL
    assert session.DRIVER_JAVA_OPTIONS in jvm["args"]


def test_a_collector_the_caller_names_wins(tmp_path):
    env = _clean_env(tmp_path)
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.extraJavaOptions=-XX:+UseG1GC pyspark-shell"
    )
    jvm = _launch("get_spark", env)
    assert "G1 Young Generation" in jvm["collectors"], jvm
    assert "-XX:+UseG1GC" in jvm["args"]
    assert session.DRIVER_JAVA_OPTIONS not in jvm["args"]


def test_configure_only_session_keeps_the_default_collector(tmp_path):
    jvm = _launch("configure", _clean_env(tmp_path))
    assert "G1 Young Generation" in jvm["collectors"], jvm
    assert session.DRIVER_JAVA_OPTIONS not in jvm["args"]


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """``launch_confs()`` as a first launch from a clean environment sees
    it; yields the empty ``SPARK_CONF_DIR``."""
    for name in session._JVM_OPTION_VARS + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(name, raising=False)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    yield conf_dir


def _java_options(confs: dict[str, str]) -> str | None:
    return confs.get("spark.driver.defaultJavaOptions")


def test_launch_confs_add_the_serial_collector_to_a_clean_launch(launch, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.launch_confs() == {
        "spark.driver.memory": "3g",
        "spark.driver.defaultJavaOptions": session.DRIVER_JAVA_OPTIONS,
    }
    # Options that select no collector, such as perfbench's own, leave it.
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS",
        "--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir=/t -XX:-UsePerfData"
        " -XX:+PrintGCDetails -XX:+UseCompressedOops' pyspark-shell",
    )
    assert _java_options(session.launch_confs()) == session.DRIVER_JAVA_OPTIONS


@pytest.mark.parametrize("name", session._JVM_OPTION_VARS)
def test_launch_confs_add_no_collector_the_environment_names(launch, monkeypatch, name):
    monkeypatch.setenv(name, "-Dk=v -XX:+UseParallelGC")
    confs = session.launch_confs()
    assert _java_options(confs) is None and "spark.driver.memory" in confs


def test_launch_confs_add_no_collector_the_defaults_file_names(launch, tmp_path, monkeypatch):
    defaults = launch / "spark-defaults.conf"
    defaults.write_text("# spark.driver.extraJavaOptions -XX:+UseZGC\n")
    assert _java_options(session.launch_confs()) == session.DRIVER_JAVA_OPTIONS
    defaults.write_text("spark.driver.extraJavaOptions  -XX:+UseZGC\n")
    assert _java_options(session.launch_confs()) is None
    # Without SPARK_CONF_DIR, spark-submit reads SPARK_HOME/conf.
    home = tmp_path / "home"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions -XX:+UseShenandoahGC\n"
    )
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.setenv("SPARK_HOME", str(home))
    assert _java_options(session.launch_confs()) is None


def test_launch_confs_leave_a_running_jvm_alone(launch, monkeypatch):
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert _java_options(session.launch_confs()) is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert _java_options(session.launch_confs()) is None

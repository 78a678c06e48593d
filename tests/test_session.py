"""The driver JIT policy: the flags a JVM launched by ``get_spark`` runs
with, and the conf that puts them there."""

import logging
import os
import shutil
import subprocess
from types import SimpleNamespace

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from multi_table_plugins_spark import session
from multi_table_plugins_spark.session import JIT_POLICY, get_spark


def _input_args(jvm) -> "list[str]":
    return list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )


def test_test_jvm_runs_with_the_jit_policy(spark):
    """The JVM the test session started through ``get_spark`` keeps C2
    (no ``TieredStopAtLevel``) with the raised tier-4 thresholds."""
    args = _input_args(spark.sparkContext._jvm)
    assert set(JIT_POLICY) <= set(args), args
    assert not any("TieredStopAtLevel" in a for a in args), args


def test_running_jvm_with_the_policy_is_left_alone(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._jit_conf() == {}
    assert "--driver-java-options" not in caplog.text


def _built_conf(monkeypatch, extra_conf=None) -> dict:
    """The conf ``get_spark`` hands the builder for a JVM it launches."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    return get_spark("jit-conf", cores=2, extra_conf=extra_conf)


def _driver_java_args(conf: dict) -> "list[str]":
    """The driver JVM's options as Spark's launcher builds them from
    ``conf`` (passed as ``--conf`` the way pyspark launches its gateway);
    only the launcher runs, not the driver."""
    home = _find_spark_home()
    cmd = [shutil.which("java"), "-Xmx128m", "-cp", os.path.join(home, "jars", "*"),
           "org.apache.spark.launcher.Main", "org.apache.spark.deploy.SparkSubmit"]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    env = {**os.environ, "SPARK_HOME": home, "SPARK_SCALA_VERSION": "2.13"}
    out = subprocess.run(cmd + ["pyspark-shell"], env=env, capture_output=True,
                         check=True).stdout.decode()
    args = out.split("\0")
    return args[: args.index("org.apache.spark.deploy.SparkSubmit")]


def test_launch_conf_puts_the_policy_first(monkeypatch):
    assert _built_conf(monkeypatch)["spark.driver.defaultJavaOptions"] == " ".join(JIT_POLICY)
    caller = "-Djava.io.tmpdir=/x -XX:Tier4InvocationThreshold=7"
    conf = _built_conf(monkeypatch, {"spark.driver.extraJavaOptions": caller})
    assert conf["spark.driver.extraJavaOptions"] == caller
    assert session.LOCALFS_JAR in conf["spark.driver.extraClassPath"]
    # HotSpot takes a flag's last occurrence: the caller's own value wins
    args = _driver_java_args(conf)
    at = args.index(JIT_POLICY[0])
    assert args[at: at + len(JIT_POLICY) + 2] == [*JIT_POLICY, *caller.split()]


def _fake_running_jvm(monkeypatch, args) -> None:
    bean = SimpleNamespace(getInputArguments=lambda: args)
    factory = SimpleNamespace(getRuntimeMXBean=lambda: bean)
    jvm = SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(
            ManagementFactory=factory
        )))
    )
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.setattr(SparkContext, "_jvm", jvm)
    monkeypatch.setattr(SparkContext, "_ensure_initialized", lambda *a, **kw: None)


def test_running_jvm_without_the_policy_gets_one_warning(monkeypatch, caplog):
    """spark-submit starts the JVM before ``get_spark`` runs: nothing is
    added to the conf, and one warning names the spark-submit flag."""
    _fake_running_jvm(monkeypatch, ["-Xmx1g"])
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._jit_conf() == {}
    assert len(caplog.records) == 1
    assert "--driver-java-options" in caplog.text
    assert " ".join(JIT_POLICY) in caplog.text


def test_running_jvm_started_with_the_policy_gets_no_warning(monkeypatch, caplog):
    """The policy's flags with the caller's own values count as passed."""
    own = [f.split("=")[0] + "=7" for f in JIT_POLICY]
    for args in (["-Xmx1g", *JIT_POLICY], ["-Xmx1g", *own]):
        _fake_running_jvm(monkeypatch, args)
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            assert session._jit_conf() == {}
    assert caplog.records == []


def test_running_jvm_missing_one_policy_flag_gets_the_warning(monkeypatch, caplog):
    _fake_running_jvm(monkeypatch, ["-Xmx1g", *JIT_POLICY[1:]])
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._jit_conf() == {}
    assert len(caplog.records) == 1

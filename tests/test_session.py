"""``session.get_session``: bad env knobs fail with the variable's name,
and the cold-start JIT policy reaches local masters only (no JVM needed,
except for the last test, which reads the shared test session's JVM)."""

from __future__ import annotations

import pytest

from datasheet_etl_spark.session import LOCAL_JIT_POLICY, get_session, session_conf

JAVA_OPTS = "spark.driver.defaultJavaOptions"


@pytest.mark.parametrize("name", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE"])
def test_a_non_integer_knob_names_the_variable(monkeypatch, name):
    monkeypatch.setenv(name, "four")
    with pytest.raises(ValueError, match=f"{name} must be an integer, got 'four'"):
        get_session()


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2,3]"])
def test_local_masters_get_the_jit_policy(master):
    assert session_conf(master, 4, "1g")[JAVA_OPTS] == LOCAL_JIT_POLICY


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_cluster_masters_get_no_jvm_flags(master):
    conf = session_conf(master, 4, "1g")
    assert not [k for k in conf if "JavaOptions" in k]
    assert conf["spark.sql.shuffle.partitions"] == "4"


def test_a_callers_default_java_options_replace_the_policy():
    extra = {JAVA_OPTS: "-XX:TieredStopAtLevel=1", "spark.driver.extraJavaOptions": "-Xms1g"}
    conf = session_conf("local[4]", 4, "1g", extra)
    assert conf[JAVA_OPTS] == "-XX:TieredStopAtLevel=1"
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g"
    # extraJavaOptions alone leaves the policy in place
    conf = session_conf("local[4]", 4, "1g", {"spark.driver.extraJavaOptions": "-Xms1g"})
    assert conf[JAVA_OPTS] == LOCAL_JIT_POLICY


def test_shared_session_jvm_runs_under_the_policy(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory
    args = set(mx.getRuntimeMXBean().getInputArguments())
    assert set(LOCAL_JIT_POLICY.split()) <= args

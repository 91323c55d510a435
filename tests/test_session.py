"""``session.get_session``: bad env knobs fail with the variable's name,
the cold-start JIT policy and the worker daemon reach local masters only
(the daemon only when the worker interpreter can import it), and the class-data
sharing (CDS) decision is made on a fake Spark and JDK tree (no JVM
needed, except for the last test, which reads the shared test session's
JVM)."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from datasheet_etl_spark import session
from datasheet_etl_spark.session import (
    DAEMON_MODULE,
    JAVA_OPTS,
    LOCAL_JIT_POLICY,
    WORKER_DAEMON,
    cds_decision,
    cds_key,
    finish_cds_build,
    get_session,
    plan_cds,
    session_conf,
)

ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")  # JDK dynamic archive


@pytest.mark.parametrize("name", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE"])
def test_a_non_integer_knob_names_the_variable(monkeypatch, name):
    monkeypatch.setenv(name, "four")
    with pytest.raises(ValueError, match=f"{name} must be an integer, got 'four'"):
        get_session()


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2,3]"])
def test_local_masters_get_the_jit_policy(master):
    assert session_conf(master, 4, "1g")[JAVA_OPTS] == LOCAL_JIT_POLICY


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2,3]"])
def test_local_masters_get_the_worker_daemon(master, monkeypatch):
    probes = []
    monkeypatch.setattr(session, "_worker_imports", lambda *a: probes.append(a) or True)
    monkeypatch.setenv("PYSPARK_PYTHON", "/x/python")
    assert session_conf(master, 4, "1g")[DAEMON_MODULE] == WORKER_DAEMON
    assert probes == [(WORKER_DAEMON, "/x/python", os.getcwd(), os.environ.get("PYTHONPATH"))]


def test_a_failing_import_probe_leaves_the_daemon_unset(monkeypatch):
    monkeypatch.setattr(session, "_worker_imports", lambda *a: False)
    conf = session_conf("local[4]", 4, "1g")
    assert DAEMON_MODULE not in conf
    assert conf[JAVA_OPTS] == LOCAL_JIT_POLICY


def test_a_callers_daemon_module_wins_without_a_probe(monkeypatch):
    monkeypatch.setattr(session, "_worker_imports", lambda *a: pytest.fail("probed"))
    conf = session_conf("local[4]", 4, "1g", {DAEMON_MODULE: "pyspark.daemon"})
    assert conf[DAEMON_MODULE] == "pyspark.daemon"


def test_the_import_probe_runs_where_the_workers_start(tmp_path):
    """The probe is a real interpreter in the given directory: the
    repository's checkout finds the daemon module, another directory does
    not, unless its ``PYTHONPATH`` names the checkout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = session._worker_imports.__wrapped__
    assert probe(WORKER_DAEMON, sys.executable, root, None) is True
    assert probe(WORKER_DAEMON, sys.executable, str(tmp_path), None) is False
    assert probe(WORKER_DAEMON, sys.executable, str(tmp_path), root) is True
    assert probe(WORKER_DAEMON, str(tmp_path / "no-python"), root, None) is False


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_cluster_masters_get_no_jvm_flags(master):
    conf = session_conf(master, 4, "1g")
    assert not [k for k in conf if "JavaOptions" in k]
    assert DAEMON_MODULE not in conf
    assert conf["spark.sql.shuffle.partitions"] == "4"


def test_a_callers_default_java_options_replace_the_policy():
    extra = {JAVA_OPTS: "-XX:TieredStopAtLevel=1", "spark.driver.extraJavaOptions": "-Xms1g"}
    conf = session_conf("local[4]", 4, "1g", extra)
    assert conf[JAVA_OPTS] == "-XX:TieredStopAtLevel=1"
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g"
    # extraJavaOptions alone leaves the policy in place
    conf = session_conf("local[4]", 4, "1g", {"spark.driver.extraJavaOptions": "-Xms1g"})
    assert conf[JAVA_OPTS] == LOCAL_JIT_POLICY


@pytest.fixture
def tree(tmp_path):
    """A fake ``$SPARK_HOME`` (two jars, a template-only conf dir), a fake
    JDK 17 and an empty cache: ``env`` and ``cache`` for ``plan_cds``."""
    spark_home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (jdk / "bin").mkdir(parents=True)
    for jar in ("a.jar", "b.jar"):
        (spark_home / "jars" / jar).write_bytes(b"jar")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (jdk / "bin" / "java").write_bytes(b"")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    env = {"SPARK_HOME": str(spark_home), "JAVA_HOME": str(jdk), "PATH": ""}
    return SimpleNamespace(
        spark_home=spark_home, jdk=jdk, env=env, cache=str(tmp_path / "cache")
    )


def _plan(tree, master="local[4]", extra=None):
    return plan_cds(master, extra or {}, tree.env, tree.cache)


def _archive(path):
    path.write_bytes(ARCHIVE_MAGIC + b"\0" * 60)


def test_the_key_follows_each_jars_size_and_mtime(tree):
    release = (tree.jdk / "release").read_text()
    jars, jar = str(tree.spark_home / "jars"), tree.spark_home / "jars" / "a.jar"

    def key():
        return cds_key(str(tree.jdk), release, jars, "/conf")

    k0 = key()
    assert key() == k0
    os.utime(jar, ns=(0, 10**18))
    k1 = key()
    jar.write_bytes(b"jar+")
    os.utime(jar, ns=(0, 10**18))
    k2 = key()
    assert len({k0, k1, k2}) == 3
    assert cds_key(str(tree.jdk), release, jars, "/other") != k2


def test_a_template_only_or_missing_conf_dir_is_swapped_for_an_empty_one(tree):
    plan = _plan(tree)
    assert plan.decision == "build"
    assert plan.conf_dir == os.path.join(tree.cache, "conf")
    assert os.listdir(plan.conf_dir) == []
    assert plan.java_options.split() == [
        f"-XX:ArchiveClassesAtExit={plan.tmp}", *session.CDS_LOGGING.split()
    ]
    assert plan.tmp == f"{plan.archive}.tmp"
    # an existing archive is used, with the fall-back to no CDS if stale
    _archive(tree.spark_home.parent / "x")
    os.replace(tree.spark_home.parent / "x", plan.archive)
    session._drop_build(plan)
    use = _plan(tree)
    assert (use.decision, use.conf_dir, use.tmp, use.lock_fd) == ("use", plan.conf_dir, None, None)
    assert use.java_options.split()[:2] == [
        f"-XX:SharedArchiveFile={plan.archive}", "-Xshare:auto"
    ]
    (tree.spark_home / "conf" / "spark-defaults.conf.template").unlink()
    (tree.spark_home / "conf").rmdir()
    assert _plan(tree).conf_dir == plan.conf_dir


@pytest.mark.parametrize("name", ["spark-defaults.conf", "log4j2.properties"])
def test_a_conf_dir_with_a_real_file_gets_no_cds(tree, name):
    (tree.spark_home / "conf" / name).write_text("spark.x 1\n")
    env = dict(tree.env)
    plan = _plan(tree)
    assert plan == session.CdsPlan(f"off: conf dir {tree.spark_home / 'conf'} holds {name}")
    assert tree.env == env
    assert not os.path.exists(tree.cache)


def test_get_session_swaps_the_conf_dir_only_around_the_launch(tree, monkeypatch):
    """get_session with a stub builder in place of the JVM launch: the
    template-only conf dir is replaced while the JVM starts, restored
    after; a real conf file means no flags and no change at all."""
    launches = []

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            launches.append((dict(self.conf), os.environ.get("SPARK_CONF_DIR")))
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    def builder():
        b = Builder()
        b.conf = {}
        return b

    registered = []
    monkeypatch.setattr(session.atexit, "register", lambda *a: registered.append(a))
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=None))
    monkeypatch.setattr(session, "_launch_decision", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tree.spark_home.parent / "xdg"))
    for k, v in tree.env.items():
        monkeypatch.setenv(k, v)
    user_conf = str(tree.spark_home / "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", user_conf)

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder()))
    get_session(master="local[2]")
    conf, conf_dir = launches[-1]
    assert cds_decision() == "build"
    assert conf_dir == os.path.join(session.cds_cache_dir(), "conf")
    assert "-XX:ArchiveClassesAtExit=" in conf[JAVA_OPTS]
    assert conf[JAVA_OPTS].startswith(LOCAL_JIT_POLICY)
    assert os.environ["SPARK_CONF_DIR"] == user_conf
    assert [a[0] for a in registered] == [session._finish_build_at_exit]
    session._drop_build(registered[0][1])

    (tree.spark_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder()))
    get_session(master="local[2]")
    conf, conf_dir = launches[-1]
    assert cds_decision().startswith("off: conf dir")
    assert (conf[JAVA_OPTS], conf_dir) == (LOCAL_JIT_POLICY, user_conf)
    assert os.environ["SPARK_CONF_DIR"] == user_conf
    assert len(registered) == 1


def test_a_cache_that_cannot_be_written_gets_no_flags(tree):
    blocker = tree.spark_home.parent / "not-a-dir"
    blocker.write_text("")
    tree.cache = str(blocker / "cds")
    plan = _plan(tree)
    assert plan.decision.startswith("off: cache")
    assert (plan.java_options, plan.conf_dir) == ("", None)


def test_a_held_lock_means_no_build_flags(tree):
    first = _plan(tree)
    assert first.decision == "build"
    second = _plan(tree)  # the lock is held through first's descriptor
    assert second.decision.startswith("off: another process is building")
    assert (second.java_options, second.tmp, second.lock_fd) == ("", None, None)
    session._drop_build(first)
    # a builder that dies holding the lock leaves it free
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, sys, time; fh = open(sys.argv[1], 'w'); "
            "fcntl.flock(fh, fcntl.LOCK_EX); print(flush=True); time.sleep(60)",
            first.archive + ".lock",
        ],
        stdout=subprocess.PIPE,
    )
    holder.stdout.readline()
    assert _plan(tree).decision.startswith("off: another process is building")
    holder.kill()
    holder.wait()
    holder.stdout.close()
    assert _plan(tree).decision == "build"


def _jvm_stand_in(code):
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)


def test_an_archive_is_published_only_after_a_clean_exit(tree, tmp_path):
    plan = _plan(tree)
    cache = os.path.dirname(plan.archive)
    session._drop_build(plan)
    older = os.path.join(cache, "0000000000000000.jsa")
    orphan = os.path.join(cache, "0000000000000000.jsa.tmp")
    for path in (older, orphan):
        _archive(tmp_path / "x")
        os.replace(tmp_path / "x", path)

    # killed after the wait, or exited with an error: deleted, not published
    for code, wait_s in (("import time; time.sleep(60)", 0.5), ("raise SystemExit(1)", 30)):
        plan = _plan(tree)
        assert plan.decision == "build"  # the last build released the lock
        _archive(tmp_path / "x")
        os.replace(tmp_path / "x", plan.tmp)
        assert finish_cds_build(plan, _jvm_stand_in(code), wait_s) is False
        assert not os.path.exists(plan.tmp) and not os.path.exists(plan.archive)

    # a clean exit on stdin EOF that wrote no archive: nothing published
    plan = _plan(tree)
    assert finish_cds_build(plan, _jvm_stand_in("import sys; sys.stdin.read()")) is False
    assert not os.path.exists(plan.archive)

    # a clean exit with an archive: published, older keys and orphans gone
    plan = _plan(tree)
    _archive(tmp_path / "x")
    os.replace(tmp_path / "x", plan.tmp)
    assert finish_cds_build(plan, _jvm_stand_in("import sys; sys.stdin.read()")) is True
    assert set(os.listdir(cache)) == {
        "conf", *(os.path.basename(plan.archive) + s for s in ("", ".lock"))
    }


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_cluster_masters_get_no_cds(tree, master):
    assert _plan(tree, master) == session.CdsPlan("off: not a local master")
    assert not os.path.exists(tree.cache)


def test_a_callers_default_java_options_or_classpath_get_no_cds(tree):
    # LOCAL_JIT_POLICY itself is the documented way to keep the policy alone
    for opts in ("-XX:TieredStopAtLevel=1", LOCAL_JIT_POLICY, ""):
        plan = _plan(tree, extra={JAVA_OPTS: opts})
        assert plan == session.CdsPlan(f"off: caller's {JAVA_OPTS}")
    plan = _plan(tree, extra={"spark.driver.extraClassPath": "/x"})
    assert plan.decision == "off: spark.driver.extraClassPath adds to the classpath"
    tree.env["HADOOP_CONF_DIR"] = "/etc/hadoop"
    assert _plan(tree).decision == "off: HADOOP_CONF_DIR adds to the classpath"
    assert not os.path.exists(tree.cache)


def test_an_older_jdk_gets_no_cds(tree):
    (tree.jdk / "release").write_text('JAVA_VERSION="11.0.2"\n')
    assert _plan(tree).decision == f"off: {tree.jdk} is not a JDK 17+"


def test_shared_session_jvm_runs_under_the_policy(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory
    args = set(mx.getRuntimeMXBean().getInputArguments())
    assert set(LOCAL_JIT_POLICY.split()) <= args


def test_shared_session_jvm_carries_the_flags_of_its_cds_decision(spark):
    """The launch did what ``cds_decision()`` says: the use or the build
    flags for ``use`` or ``build``, no archive flag for ``off: <reason>``
    (a held build lock, an unwritable cache or a real conf file on this
    machine turn CDS off; that is machine state, not a fault)."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    use = any(a.startswith("-XX:SharedArchiveFile=") for a in args) and "-Xshare:auto" in args
    build = any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args)
    decision = cds_decision()
    if decision in ("use", "build"):
        assert (use, build) == (decision == "use", decision == "build"), (decision, args)
        assert set(session.CDS_LOGGING.split()) <= set(args)
    else:
        assert decision.startswith("off: "), decision
        assert not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a for a in args)
    assert os.environ.get("SPARK_CONF_DIR") != os.path.join(session.cds_cache_dir(), "conf")

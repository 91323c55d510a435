"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic join-strategy switch) — on a 1000-executor cluster
  this is what keeps a 100 TB shuffle from being killed by one hot key.
- ``spark.sql.shuffle.partitions`` sized to the actual parallelism, not
  the 200 default (local: ~cores; cluster: 2–3× total cores).
- Arrow enabled so every Pandas-UDF stage is vectorized batch transfer.
- Session timezone pinned UTC so timestamp semantics are deterministic
  and oracle-comparable (DuckDB timestamps are UTC-naive).
- Local masters (``local``, ``local[n]``, ``local[*]``) get a cold-start
  JIT policy (``LOCAL_JIT_POLICY``) in ``spark.driver.defaultJavaOptions``.
  A local session is usually one short-lived JVM (the ``extract``
  command, a batch job), and most of its first operation's CPU is the
  C2 compiler optimizing Spark's lukewarm first-use paths (Janino,
  ANTLR, py4j, Java serialization, closure cleaning). The policy raises
  the tier-4 (C2) thresholds 10× over the HotSpot defaults: C1 still
  compiles every warm method, and row loops and other truly hot code
  still reach C2. Spark places ``spark.driver.extraJavaOptions`` after
  the default options and HotSpot keeps the last value of a flag, so
  flags passed there still apply; a ``spark.driver.defaultJavaOptions``
  in ``extra_conf`` replaces the policy (pass ``""`` to run the JDK
  default). For local masters the policy also takes precedence over a
  ``spark.driver.defaultJavaOptions`` in ``spark-defaults.conf``. It
  only takes effect when this call launches the JVM.
- The same launches get class-data sharing (CDS): a JDK 17 dynamic
  archive of the classes a session loaded, memory-mapped by the next
  JVM instead of parsed and verified again from Spark's ~290 jars. It
  roughly halves session start (perfbench ``setup_s`` about 0.55×). The
  archive is a cache of 140–200 MB at
  ``${XDG_CACHE_HOME:-~/.cache}/datasheet_etl_spark/cds/<key>.jsa``; the
  key hashes the ``java`` binary and its release, the Spark version, the
  names, sizes and mtimes of ``$SPARK_HOME/jars`` and the conf dir, and
  publishing a key deletes older keys' archives. With no archive for
  the key, the launch builds one (``-XX:ArchiveClassesAtExit``): that
  run starts slower, uses up to about 400 MB more memory and, at
  interpreter exit, waits 15–25 s for the JVM to write the archive. An
  ``atexit`` step stops the session, closes the JVM's stdin and
  publishes the archive only if the JVM exited cleanly within
  ``CDS_EXIT_WAIT_S``; one process builds a key at a time (an ``flock``
  on ``<key>.jsa.lock``, which the kernel drops when its holder exits),
  the others launch without CDS meanwhile. The gain needs the cache to
  outlive the process: a run that finds it empty (a fresh container, a
  new ``XDG_CACHE_HOME``, a JDK or Spark update) is a building run. With
  an archive, the launch maps it with ``-Xshare:auto``, so a stale one
  falls back to no CDS. Either way the JVM logs warnings to stderr with
  CDS logging off (``CDS_LOGGING``), so a building JVM does not print
  its class-by-class warnings after a script's last stdout line. JDK 17
  will not archive with a non-empty directory on the classpath, and
  Spark puts its conf dir there: when that dir is missing or holds only
  ``*.template`` files, ``SPARK_CONF_DIR`` points at an empty directory
  in the cache for the launch only. No CDS flags are added (and the
  environment is left alone) when the conf dir holds any other file,
  when anything else joins the classpath (``spark.driver.extraClassPath``,
  ``SPARK_DIST_CLASSPATH``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``), or
  when the cache cannot be written; ``cds_decision()`` reports what the
  launch did. To opt out, pass ``spark.driver.defaultJavaOptions`` in
  ``extra_conf`` (``LOCAL_JIT_POLICY`` keeps the JIT policy alone), or
  delete the cache directory to rebuild.
- Local masters also get ``WORKER_DAEMON`` as ``spark.python.daemon.module``
  when the worker interpreter (``$PYSPARK_PYTHON``, else ``python3``) run
  in the current directory can import it; one probe per interpreter,
  directory and ``PYTHONPATH`` checks that. Spark puts its source-only
  ``pyspark.zip`` and the ``spark-core`` jar on the workers' path, so each
  daemon compiles the pyspark modules it imports and each task's
  ``importlib.invalidate_caches()`` re-reads the zips. When the zip holds
  the same pyspark release as the installed package, the module drops
  Spark's zip and jars from the path before it starts ``pyspark.daemon``,
  and the daemon and its workers import pyspark's bytecode (see
  ``worker_daemon``). Pass ``spark.python.daemon.module=pyspark.daemon``
  in ``extra_conf`` to run the stock daemon.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory
knob. On a real cluster the same builder is used with master/memory
supplied by the submitter; cluster masters get no JVM flags from here.
"""

from __future__ import annotations

import atexit
import fcntl
import functools
import hashlib
import os
import shutil
import subprocess
import sys
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark import __version__ as SPARK_VERSION
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# C2 thresholds 10× the JDK 17 defaults (5000 / 600 / 15000 / 40000),
# chosen on cold and warm perfbench datasheet_extract runs (4 vCPUs): 3×
# and 5× saved less cold CPU, and C1 only (-XX:TieredStopAtLevel=1) was
# cheapest cold but about 30% slower warm. At 10× warm operations use the
# default's CPU; their wall matched the default's on a quiet host and was
# slower in runs where the hypervisor stole a few percent of the CPU.
LOCAL_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


JAVA_OPTS = "spark.driver.defaultJavaOptions"
DAEMON_MODULE = "spark.python.daemon.module"
WORKER_DAEMON = "datasheet_etl_spark.worker_daemon"
# warnings and errors to stderr, CDS's own (one line per class a
# building JVM skips) off; the JDK default sends them to stdout
CDS_LOGGING = "-Xlog:disable -Xlog:all=warning,cds*=off:stderr"
# how long interpreter exit waits for a building JVM to write its archive
CDS_EXIT_WAIT_S = 180
# a JVM that exits on stdin EOF returns 0, one stopped by SIGTERM 143;
# both write the archive before they exit
_CLEAN_EXITS = (0, 143)
# besides the jars and the conf dir, these put entries on the JVM's
# classpath; JDK 17 refuses to archive with a non-empty directory there
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")

_launch_decision: str | None = None


@dataclass(frozen=True)
class CdsPlan:
    """What one JVM launch does about class-data sharing.

    ``decision`` is ``use``, ``build`` or ``off: <reason>``;
    ``java_options`` go after ``LOCAL_JIT_POLICY``; ``conf_dir`` (if set)
    is the ``SPARK_CONF_DIR`` for the launch. A build writes ``tmp`` and
    holds the key's lock (the open descriptor ``lock_fd``) until
    ``finish_cds_build`` publishes ``archive``."""

    decision: str
    java_options: str = ""
    conf_dir: str | None = None
    archive: str | None = None
    tmp: str | None = None
    lock_fd: int | None = None


def cds_decision() -> str | None:
    """The CDS decision of the ``get_session`` call that launched this
    process's JVM (see ``CdsPlan``); None if none did."""
    return _launch_decision


def cds_cache_dir(env: Mapping[str, str] = os.environ) -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/datasheet_etl_spark/cds``."""
    root = env.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(root, "datasheet_etl_spark", "cds")


def _java_home(env: Mapping[str, str]) -> str | None:
    """The JDK that ``spark-class`` runs: ``$JAVA_HOME`` or ``java`` on PATH."""
    java = (
        os.path.join(env["JAVA_HOME"], "bin", "java")
        if env.get("JAVA_HOME")
        else shutil.which("java", path=env.get("PATH"))
    )
    if not java or not os.path.isfile(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _java_release(java_home: str) -> str:
    """The JDK's ``release`` file, or "" if it has none."""
    try:
        with open(os.path.join(java_home, "release")) as fh:
            return fh.read()
    except OSError:
        return ""


def _java_major(release: str) -> int:
    for line in release.splitlines():
        if line.startswith("JAVA_VERSION="):
            version = line.partition("=")[2].strip('"')
            head = version.split(".")[0].split("-")[0]
            return int(head) if head.isdigit() else 0
    return 0


def cds_key(java_home: str, release: str, jars_dir: str, conf_dir: str) -> str:
    """Hash of what a dynamic archive is only valid for: the JVM (its
    binary and release), the Spark version and the classpath (every jar's
    name, size and mtime, and the conf dir)."""
    h = hashlib.sha256()
    java = os.path.join(java_home, "bin", "java")
    st = os.stat(java)
    parts = [java, str(st.st_size), str(st.st_mtime_ns), release, SPARK_VERSION, conf_dir]
    with os.scandir(jars_dir) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            parts.append(f"{e.name}:{st.st_size}:{st.st_mtime_ns}")
    h.update("\0".join(parts).encode())
    return h.hexdigest()[:16]


def _lock(path: str) -> int | None:
    """An exclusive ``flock`` on ``path`` (the open descriptor), or None
    if another process holds it. The kernel drops the lock when its
    holder exits, however it exits, so a dead builder leaves none behind."""
    fd = os.open(path, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        return None
    return fd


def _unlink(path: str | None) -> None:
    if path:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def _drop_build(plan: CdsPlan) -> None:
    """Delete a build's temporary archive (if any) and release its lock."""
    _unlink(plan.tmp)
    if plan.lock_fd is not None:
        os.close(plan.lock_fd)


def plan_cds(
    master: str,
    extra_conf: Mapping[str, str],
    env: Mapping[str, str] = os.environ,
    cache_dir: str | None = None,
) -> CdsPlan:
    """Decide CDS for a JVM about to launch for ``master`` with the
    caller's ``extra_conf`` (as passed to ``get_session``) and the
    environment ``env``. CDS rides with the JIT policy: a cluster master,
    or a caller who sets ``spark.driver.defaultJavaOptions`` (to any
    value, ``LOCAL_JIT_POLICY`` included), gets none. A ``build`` plan
    holds the key's lock; ``finish_cds_build`` releases it."""
    if not _is_local(master):
        return CdsPlan("off: not a local master")
    if JAVA_OPTS in extra_conf:
        return CdsPlan(f"off: caller's {JAVA_OPTS}")
    extra_cp = [k for k in _CLASSPATH_ENV if env.get(k)]
    if extra_conf.get("spark.driver.extraClassPath"):
        extra_cp.append("spark.driver.extraClassPath")
    if extra_cp:
        return CdsPlan(f"off: {extra_cp[0]} adds to the classpath")
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    jars_dir = os.path.join(spark_home, "jars")
    if not os.path.isdir(jars_dir):
        return CdsPlan(f"off: no {jars_dir}")
    user_conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        own = sorted(n for n in os.listdir(user_conf) if not n.endswith(".template"))
    except FileNotFoundError:
        own = []
    except OSError as exc:
        return CdsPlan(f"off: conf dir {user_conf} unreadable ({exc.strerror})")
    if own:
        return CdsPlan(f"off: conf dir {user_conf} holds {own[0]}")
    java_home = _java_home(env)
    if java_home is None:
        return CdsPlan("off: no java")
    release = _java_release(java_home)
    if _java_major(release) < 17:
        return CdsPlan(f"off: {java_home} is not a JDK 17+")
    cache_dir = cache_dir or cds_cache_dir(env)
    conf_dir = os.path.join(cache_dir, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        writable = os.access(cache_dir, os.W_OK) and not os.listdir(conf_dir)
    except OSError:
        writable = False
    # Spark's launcher splits java options on whitespace
    if not writable or any(c.isspace() for c in cache_dir):
        return CdsPlan(f"off: cache {cache_dir} not usable")
    archive = os.path.join(cache_dir, f"{cds_key(java_home, release, jars_dir, conf_dir)}.jsa")
    if os.path.isfile(archive):
        opts = f"-XX:SharedArchiveFile={archive} -Xshare:auto {CDS_LOGGING}"
        return CdsPlan("use", opts, conf_dir, archive)
    lock_fd = _lock(archive + ".lock")
    if lock_fd is None:
        return CdsPlan(f"off: another process is building {os.path.basename(archive)}")
    # one builder per key: a killed builder's file is overwritten by the next
    tmp = archive + ".tmp"
    opts = f"-XX:ArchiveClassesAtExit={tmp} {CDS_LOGGING}"
    return CdsPlan("build", opts, conf_dir, archive, tmp, lock_fd)


def _prune(cache_dir: str, keep: str) -> None:
    """Delete every archive and temporary archive but ``keep``: older
    keys' and killed builders'. (A build of another key that is running
    now then publishes nothing; the next launch of that key builds again.)"""
    for e in os.scandir(cache_dir):
        if e.name.endswith((".jsa", ".tmp")) and e.path != keep:
            _unlink(e.path)


def finish_cds_build(plan: CdsPlan, proc, wait_s: float = CDS_EXIT_WAIT_S) -> bool:
    """Wait up to ``wait_s`` for the building JVM ``proc`` (a ``Popen``
    whose stdin is the gateway's pipe) to exit, and publish its archive
    if it exited cleanly. A JVM that times out is killed; the temporary
    archive of a killed or failed JVM is deleted, never published. The
    lock is released either way. Returns whether the archive was
    published."""
    try:
        if proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=wait_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode not in _CLEAN_EXITS or not os.path.isfile(plan.tmp):
            return False
        os.replace(plan.tmp, plan.archive)
        _prune(os.path.dirname(plan.archive), plan.archive)
        return True
    finally:
        _drop_build(plan)


def _finish_build_at_exit(plan: CdsPlan) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # noqa: BLE001  still wait for the JVM below
            print(f"datasheet_etl_spark: SparkContext.stop failed at exit: {exc!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        _drop_build(plan)
    else:
        finish_cds_build(plan, proc)


def _is_local(master: str) -> bool:
    # local, local[n], local[*], local[n,maxFailures]: the driver and the
    # executors share the one JVM these options launch
    return master == "local" or master.startswith("local[")


@functools.cache
def _worker_imports(module: str, python: str, cwd: str, pythonpath: str | None) -> bool:
    """Whether ``python`` started in ``cwd`` with ``PYTHONPATH`` set to
    ``pythonpath`` (as the JVM starts its Python workers) finds ``module``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    code = f"import importlib.util, sys; sys.exit(importlib.util.find_spec({module!r}) is None)"
    try:
        probe = subprocess.run(
            [python, "-c", code], cwd=cwd, env=env, timeout=60,
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return probe.returncode == 0


def _env_int(name: str, default: int) -> int:
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{name} must be an integer, got {raw!r}") from None


def session_conf(
    master: str,
    shuffle_partitions: int,
    driver_memory: str,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs ``get_session`` builds with; ``extra_conf`` wins."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # pyarrow writes timestamp[us] with isAdjustedToUTC=false; Spark ≥3.4
        # would infer TIMESTAMP_NTZ, which unix_micros/window/numeric casts
        # reject. Read those as plain (UTC-instant) timestamps instead.
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": driver_memory,
        "spark.ui.enabled": "false",
        # parquet scans: keep splits big enough to amortize open cost at
        # 100 TB but small enough to parallelize (default 128m is right;
        # stated explicitly because it is a deliberate choice).
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    if _is_local(master):
        conf[JAVA_OPTS] = LOCAL_JIT_POLICY
        python = os.environ.get("PYSPARK_PYTHON", "python3")
        if DAEMON_MODULE not in (extra_conf or {}) and _worker_imports(
            WORKER_DAEMON, python, os.getcwd(), os.environ.get("PYTHONPATH")
        ):
            conf[DAEMON_MODULE] = WORKER_DAEMON
    conf.update(extra_conf or {})
    return conf


def get_session(
    app_name: str = "datasheet_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults come from the environment so tests, bench, and cluster
    submission share one code path:

    - ``SPARK_GRAFT_CPUS``   (default 32)  → local[] thread count
    - ``SPARK_GRAFT_SHUFFLE`` (default the thread count) → shuffle partitions
    - ``SPARK_GRAFT_MASTER`` (default ``local[$SPARK_GRAFT_CPUS]``)
    - ``SPARK_GRAFT_DRIVER_MEM`` (default 8g locally)

    A non-integer ``SPARK_GRAFT_CPUS`` or ``SPARK_GRAFT_SHUFFLE`` raises
    a ``ValueError`` naming the variable.
    """
    cpus = _env_int("SPARK_GRAFT_CPUS", 32)
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = _env_int("SPARK_GRAFT_SHUFFLE", cpus)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    global _launch_decision
    conf = session_conf(master, shuffle_partitions, driver_memory, extra_conf)
    plan = CdsPlan("off: JVM already running")
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        plan = plan_cds(master, extra_conf or {})
        _launch_decision = plan.decision
        if plan.java_options:
            conf[JAVA_OPTS] = f"{conf[JAVA_OPTS]} {plan.java_options}"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if plan.conf_dir:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        _drop_build(plan)
        raise
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if plan.tmp:
        atexit.register(_finish_build_at_exit, plan)
    spark.sparkContext.setLogLevel("WARN")
    return spark

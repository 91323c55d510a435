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

Local mode is a single JVM; ``spark.driver.memory`` is the only memory
knob. On a real cluster the same builder is used with master/memory
supplied by the submitter; cluster masters get no JVM flags from here.
"""

from __future__ import annotations

import os

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
    # local, local[n], local[*], local[n,maxFailures]: the driver and the
    # executors share the one JVM these options launch
    if master == "local" or master.startswith("local["):
        conf["spark.driver.defaultJavaOptions"] = LOCAL_JIT_POLICY
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

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, driver_memory, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

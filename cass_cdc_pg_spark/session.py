"""SparkSession construction and runtime configuration.

The driver may hand us an already-built session, so every conf the
engine's *results* depend on is runtime-settable (``_RUNTIME_CONF``);
``configure()`` is idempotent and called from every public entry point.

One static conf is set only in :func:`get_spark`'s builder:
``spark.python.sql.dataFrameDebugging.enabled=false``.  With it on
(PySpark's default), every classic ``Column`` method and ``F.*``
function runs under ``pyspark.errors.utils._with_origin``, which per
call looks up the active session, reads a conf, sets and clears the
JVM call-site origin over py4j, and walks the Python stack, importing
``IPython`` if it is installed.  Turning it off halves the py4j round
trips of a microbatch and keeps IPython out of the driver.  What it
gives up: the Python ``file:line`` in a DataFrame error's query
context; the error message itself is unchanged.  The conf is static
(``spark.conf.isModifiable`` is False), so ``configure()`` cannot
apply it: a session the driver hands us keeps PySpark's default and
is slower to build plans in, but not wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime confs the engine depends on.  All are SQL confs (settable
#: on a live session).
_RUNTIME_CONF = {
    # The driver's synthetic events table uses parquet TIMESTAMP(NANOS),
    # which Spark rejects by default; read it as bigint nanoseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing and
    # skew-join splitting — essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp rendering for checksums.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the few pandas-interop paths (multimodal stubs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # COUNT/MIN/MAX over parquet answered from footer statistics —
    # turns full-table row-count reconciliation (Q1/Q17) into a
    # metadata read, the difference between seconds and hours at 100 TB.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Above this many paths Spark lists a scan's files in a Spark job
    # (default 32).  A KeyedTable read of a CdcIngest-default table
    # names at most 288 dirs: 32 buckets × (1 base + compact_threshold
    # = 8 deltas).  The driver lists those faster than the job does
    # (read() planning, local disk, 4 vCPU, median of 7: 128 dirs
    # 410 → 42 ms, 288 dirs 688 → 57 ms).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "288",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment — keep going; each
            # dependent code path degrades explicitly.
            pass
    return spark


def _default_driver_memory() -> str:
    """Conservative local-mode heap: a quarter of visible system
    memory, clamped to [2g, 24g].  Reads the cgroup-v2 limit when one
    is set (containers lie in /proc/meminfo), else MemTotal."""
    limit_gib = None
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw != "max":
            limit_gib = int(raw) / (1 << 30)
    except OSError:
        pass
    if limit_gib is None:
        try:
            with open("/proc/meminfo") as fh:
                for line in fh:
                    if line.startswith("MemTotal:"):
                        limit_gib = int(line.split()[1]) / (1 << 20)
                        break
        except OSError:
            pass
    if limit_gib is None:
        return "4g"
    return f"{max(2, min(24, int(limit_gib // 4)))}g"


def get_spark(app_name: str = "cass-cdc-pg-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a local session tuned for the test harness.

    On a real cluster the same confs apply; only master/memory change.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        # local-mode = ONE JVM for driver + all 32 task threads; 8g
        # was borderline at the scale-proof's 100x self-joins (32
        # concurrent partial-agg hash maps — two of six r13 proof runs
        # OOM'd in the same stage) on a 128 GiB box.  The LIBRARY
        # default stays conservative and memory-aware (r13 advice: a
        # blanket 24g would get the JVM OOM-killed on hosts with <24
        # GiB cgroup limits, where 8g was safe): a quarter of visible
        # system memory, clamped to [2g, 24g].  The measurement
        # harnesses (bench.py, tools/scale_proof.py) export
        # SPARK_DRIVER_MEMORY=24g themselves — the 100x heavy lifting
        # is theirs, not every library consumer's.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        # static, so builder-only: see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

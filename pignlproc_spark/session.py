"""SparkSession factory tuned for the KG-construction workload.

Design notes (100 TB scale):

- AQE on (coalesce post-shuffle partitions, skew-join splitting) —
  hub entities in web corpora are Zipfian, so skewed joins are the
  norm, not the exception (SURVEY.md §4, BASELINE.json:6).
- Arrow on — every custom function in this engine is a vectorized
  pandas UDF (BASELINE.json:15 forbids per-row Python).
- ``spark.sql.shuffle.partitions`` defaults to the local core count
  here; on a real cluster set it to ~2–3× total cores via
  ``spark-submit --conf`` (the engine also repartitions explicitly on
  hashed subject URIs before wide stages — see operators/triples.py).
- Generated-code cache sized above a pass's working set (a build +
  curate pass needs 217 classes; Spark's default cache holds 100). An
  LRU cache smaller than the cyclic working set misses on every lookup,
  so each warm pass would recompile every class (Janino, then the JIT).
- Local defaults come from the host: ``local[N]`` over the CPUs this
  process may run on, and a driver heap of 0.4 × physical RAM (6g on a
  16 GB host). ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM``
  override both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

HEAP_FRACTION = 0.4  # of MemTotal: 6g on the 16 GB reference host


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask: a container or taskset sees only its share)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else HEAP_FRACTION of physical RAM in
    whole GiB, at least 1g."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, int(mem_total_kb() * HEAP_FRACTION) // 2**20)}g"


DEFAULT_CPUS = default_cpus()


def get_session(
    app_name: str = "pignlproc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``cpus`` controls local parallelism (``local[cpus]``); on a real
    cluster pass ``master=None`` semantics by pre-creating the session
    via spark-submit — this factory only fills in missing confs.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # CPU-bound pandas-UDF parse needs fine scan splits: the 128m
        # default gives one straggler-prone task per smallish file
        # (SURVEY.md §4 PARALLEL). 1m is right for local corpora; on a
        # real cluster size this so tasks run 0.5–5 min (32–128m).
        .config("spark.sql.files.maxPartitionBytes", "1m")
        # local mode: the driver JVM IS the executor — undersizing it
        # turns cache pressure into a GC storm that burns 10× CPU on
        # wide stages (measured); oversizing it past physical RAM gets
        # the JVM OOM-killed, so the default follows the host
        .config("spark.driver.memory", default_driver_mem())
        # generated-class cache (static conf): measured working sets are
        # 101 classes for build_kg, 116 for the curate core and ≈120 per
        # incremental drain. Spark's default of 100 is below one pass, so
        # the LRU evicts every class before its reuse and each warm pass
        # recompiles all of them; 1000 leaves headroom for both halves
        # plus the other jobs sharing a session
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this driver JVM so far (cache
    misses of the generated-code cache; hits are not counted)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

"""SparkSession factory tuned for the rollup engine.

Mirrors the reference's parallelism model — ``nb_parallel_processes``
single-thread workers × ``nb_otb_threads`` with a per-process RAM budget
(`/root/reference/s1tiling/libs/api.py:220-223`,
`configuration.py:452-457`) — expressed the Spark way: one session,
``local[N]`` threads locally / executor instances on a cluster, AQE for
runtime re-planning, Arrow for the vectorized-UDF path.

At 100 TB this module is where cluster-level knobs live; everything else
in the engine is expressed declaratively so Catalyst/AQE can re-plan when
the data size changes by 1000×.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the s1tiling_spark package for shipping to executors — the
    programmatic equivalent of ``spark-submit --py-files`` (north-rule
    deployment mode). The zip name carries a content hash so edited
    source is never masked by a stale cached zip."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append(full)
    h = hashlib.sha256()
    for full in sorted(sources):
        h.update(full.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    out = os.path.join("/tmp", f"s1tiling_spark_pyfiles_{h.hexdigest()[:12]}.zip")
    if not os.path.exists(out):
        tmp = out + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sources:
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def default_driver_memory() -> str:
    """Driver heap when neither ``driver_memory=`` nor
    ``SPARK_GRAFT_DRIVER_MEM`` sets one: a quarter of physical RAM
    (``/proc/meminfo`` MemTotal), capped at 48g. ParallelGC grows the
    heap toward its maximum under allocation pressure, so the maximum
    must leave the rest of the host to the JVM's off-heap memory, the
    Python workers, and any other JVM on the machine — e.g. the 1500m
    writer sessions the multi-writer tests start beside this one."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1024, min(48 * 1024, kb // 1024 // 4))}m"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def build_session(
    master: str | None = None,
    app_name: str = "s1tiling-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-aware defaults.

    - AQE on (coalesce + skew-join): runtime re-plan replaces the
      reference's hand-built Dask graph regeneration on retry
      (`api.py:296-315`).
    - ``spark.sql.shuffle.partitions`` sized to ~2× cores locally; on a
      real cluster leave AQE to coalesce from a higher initial number.
    - Arrow enabled for pandas-UDF kernels (no per-row Python).
    - Session timezone pinned to UTC so time-bucketing is
      deterministic across environments.
    - File listing stays on the driver up to 4096 paths
      (``spark.sql.sources.parallelPartitionDiscovery.threshold``,
      Spark's default is 32). Above the threshold Spark lists through
      a distributed job, so every read of a tier with more than 32
      ``p_date`` partitions (or of more than 32 planned files) paid
      one extra job, although the store already walks the same
      directories driver-side. The 1h tier passes 32 partitions after
      a month of data (one per day); 1d and hist_1d, one partition
      per 30d bucket, stay far below. A session built elsewhere keeps
      the default: its 1h reads still launch that listing job, once
      per snapshot build on the serving path.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r6): coalescePartitions.parallelismFirst=false was
        # measured and REJECTED as a global default — it halves the
        # lifecycle gates' task storms but collapses the CPU-heavy
        # small-shuffle queries (an all-pairs near-dup query went
        # 4.8 -> 8.8 s) by serializing their post-shuffle compute; the
        # cached-plan flag below captures nearly all of the win without
        # that risk.
        # Let AQE re-plan the partitioning of CACHED plan output too:
        # persisted intermediates (rollup outputs, changelog touched
        # sets) otherwise freeze at the initial shuffle partition count
        # and every consumer stage launches that many tasks (measured:
        # the matview mixed-refresh dropped 1509 -> 218 tasks, r6).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * cpus, 8)))
        # compiled-codegen cache: one incremental tier refresh generates
        # ~115 classes, 80 % of them identical from refresh to refresh,
        # but the default 100-entry LRU evicts them all before the next
        # refresh asks again — every refresh recompiled everything
        # (~0.8 s of Janino per refresh at 4 cores).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
    )
    # local mode = one JVM; spark.driver.memory is the only heap knob.
    # ParallelGC: measured 15-25x faster than the default G1 on this
    # workload at large heaps (G1+48g: 130-230s for a 600M-token scan;
    # ParallelGC+48g: 5-8s) — token-array decode allocates at a rate
    # G1's region management collapses under.
    mem = (
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory()
    )
    builder = builder.config("spark.driver.memory", mem).config(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    # Optional task-concurrency cap: spark.task.cpus > 1 runs fewer
    # concurrent tasks than slots. Useful when the host's usable
    # memory-bandwidth parallelism is below its core count (PERF.md §6:
    # this sandbox realizes ~8 threads of JVM scan work regardless of
    # core count). On a real cluster, size executors instead.
    task_cpus = os.environ.get("SPARK_GRAFT_TASK_CPUS")
    if task_cpus:
        builder = builder.config("spark.task.cpus", task_cpus)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # make the package importable on executor Python workers no matter
    # where the driver process was started from
    spark.sparkContext.addPyFile(package_zip())
    return spark

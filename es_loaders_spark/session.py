"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster: partitioning/shuffle
decisions are made as if there were 1000 executors (AQE, skew-join,
broadcast thresholds), and the same builder works under spark-submit.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from py4j.protocol import Py4JError
from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame, SparkSession


def default_driver_memory() -> str:
    """Driver heap for local mode: ``SPARK_DRIVER_MEM`` if set, else a
    quarter of physical RAM capped at 8g (local mode = the driver IS the
    executor, and the rest of the box stays with the Python workers and
    the OS page cache that serves the index files)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(min(ram_mb // 4, 8192), 512)}m"


def _auto_task_cpus(n_cores: int) -> str:
    """Default task.cpus: cap concurrent kernels at 16 per (local) box."""
    env = os.environ.get("SPARK_GRAFT_TASK_CPUS", "auto")
    if env != "auto":
        return env
    return "2" if n_cores >= 24 else "1"


def get_spark(
    app_name: str = "es-loaders-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores`` pins ``local[N]`` (used by the scaling benchmark at
    local[8] vs local[32]); default is ``local[*]``. ``master``
    overrides entirely — e.g. ``local-cluster[4,2,3072]`` spawns REAL
    executor JVMs (serialized task closures, real broadcasts, no
    shared-heap shortcuts), the closest a single box gets to N separate
    machines; ``cores`` then only sizes shuffle partitions.
    """
    if master is not None:
        n = cores or (os.cpu_count() or 8)
    elif cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # batch size trades Arrow throughput against per-worker peak memory
        # (N workers × batch bytes live simultaneously) — overridable for
        # wide-row workloads via env (bench/profile sweeps)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # sandbox corpora are small (MBs, not the 128MB-file world this is
        # designed for): split scans finer so a 100-file/200MB table still
        # fans out across all cores instead of coalescing into 2 tasks
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # local mode = driver IS the executor: size the heap like one
        # (~1M-doc builds want more than 8g — set SPARK_DRIVER_MEM)
        .config("spark.driver.memory", default_driver_memory())
        # memory-bandwidth-bound Arrow-UDF kernels (posting build: lexsort/
        # factorize over token arrays) saturate ONE box's memory bus at
        # ~16 concurrent workers — beyond that, throughput REGRESSES
        # (measured: stage-C minima 20.7s @8 / 27.5s @16 / 38.0s @32 conc,
        # matching the box's numpy-sort 8→32 proc efficiency of 0.32;
        # BENCH.md round 2). task.cpus=2 halves concurrency on wide local
        # masters — the standard knob for bandwidth-bound tasks (same idea
        # as for MKL-threaded UDFs). On a real multi-executor cluster each
        # executor brings its own memory bus, so executors scale freely and
        # this stays per-executor; set SPARK_GRAFT_TASK_CPUS=1 to disable.
        .config("spark.task.cpus", _auto_task_cpus(n))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master.startswith("local-cluster"):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder
            # executor JVMs spawn their own Python workers — they must
            # find the package without the driver's sys.path mutation
            .config("spark.executorEnv.PYTHONPATH", repo)
            # executor heap must fit inside the worker's memory budget
            # (the [n,cores,MEM] triple); leave headroom for overhead
            .config(
                "spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEM", "2g"),
            )
        )
    return builder.getOrCreate()


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """An empty relation of the DDL schema ``ddl``, built from an empty
    Arrow table: a LocalRelation that collects with no Spark job, where
    ``createDataFrame([], ddl)`` goes through an RDD and submits one."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return spark.createDataFrame(
        to_arrow_schema(_parse_datatype_string(ddl)).empty_table()
    )


def is_live(df: DataFrame) -> bool:
    """True while ``df``'s SparkContext is running. Checked on the Python
    side only, so it is safe for a DataFrame of a stopped session (any
    JVM call on one raises)."""
    sc = df.sparkSession.sparkContext
    return sc._jsc is not None and SparkContext._active_spark_context is sc


def unpersist_quietly(df: DataFrame | None) -> None:
    """Best-effort ``unpersist``: a DataFrame of a stopped session is
    dropped without calling into the JVM (its cache died with the
    session), and a failing release never fails the caller's query."""
    if df is None or not is_live(df):
        return
    try:
        df.unpersist()
    except Py4JError:  # e.g. the context stopped after the check above
        pass


class PersistPool:
    """Bounded pool of persisted query-derived relations, keyed by the
    analyzed plan's semantic hash, oldest released first.

    Entries outlive the call that made them, so a REPEATED identical
    query gets a plan-matched cache hit (warm steady-state serving); the
    cap keeps long sessions from accumulating. A repeated plan
    re-registers the existing entry instead of adding a duplicate whose
    eviction would (plan-matched) uncache the live one. Storage is
    serialized (MEMORY_AND_DISK): compact blocks while the cache idles
    between reuses — less heap/GC drag on the queries in between. A
    released entry's DataFrame stays correct; it just recomputes if
    re-collected. Entries of a stopped session are forgotten without a
    JVM call, so a process that restarts its session keeps working.
    """

    def __init__(self, cap: int):
        self.cap = cap
        self._entries: "OrderedDict[int, DataFrame]" = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    def persist(self, df: DataFrame) -> DataFrame:
        self._entries = OrderedDict(
            (h, d) for h, d in self._entries.items() if is_live(d)
        )
        h = df._jdf.queryExecution().analyzed().semanticHash()
        if h in self._entries:
            self._entries.move_to_end(h)
            return df  # the existing cached relation serves this plan
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._entries[h] = df
        while len(self._entries) > self.cap:
            unpersist_quietly(self._entries.popitem(last=False)[1])
        return df

    def release(self) -> None:
        while self._entries:
            unpersist_quietly(self._entries.popitem(last=False)[1])

"""SparkSession construction with scale-oriented defaults, and the
small relations the engine plans against.

All engine entry points accept an existing SparkSession; this builder is
for tests / bench / CLI use. Defaults fit the host they run on
(local[N] over the CPUs this process may use, one JVM with half the
host's memory) but every knob matters identically on a real cluster:
AQE for runtime re-planning + skew-join splitting (also inside cached
plans, so a persisted violation union is coalesced like any other
query), a generated-code cache that holds a whole suite under names
that do not change between runs (so a repeated run_suite compiles
nothing), Arrow for the pandas-UDF boundary, shuffle partitions sized
to the core count. A caller that brings its own session, or runs the
CLI under spark-submit, should pass those three settings itself (see
README).

``local_relation`` builds small relations (check-id lists, schema
verdicts, empty frames, literal vocabularies, checkpoint ledger rows) as
JVM ``LocalRelation``s (a ``LocalTableScan`` when executed): no Python
worker runs to read them. ``cached_local_df`` memoizes the static ones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Iceberg is the north-rule target catalog; the sandbox has no Iceberg
# runtime jar, so we detect and fall back to Parquet for storage-layer
# tests (see sources/tables.py). Detection is cheap and cached.
_ICEBERG_AVAILABLE: bool | None = None


_MEMINFO = "/proc/meminfo"
_MAX_DRIVER_MB = 48 * 1024
_FALLBACK_DRIVER_MB = 2 * 1024
# Generated-class cache entries (spark.sql.codegen.cache.maxEntries,
# default 100). A warm run of the 16-check transcript suite compiles
# more distinct classes than 100, so the LRU evicted them and every run
# recompiled and re-JIT-compiled the same sources.
_CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the number of CPUs this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _host_memory_kb() -> int | None:
    """``MemTotal`` from ``/proc/meminfo``, else physical pages times
    page size (``os.sysconf``, also on macOS), else None."""
    try:
        with open(_MEMINFO) as f:
            return next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        pass
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    except (AttributeError, OSError, ValueError):
        return None


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half of the host's memory, capped at
    48g; 2g where the host's memory cannot be read. In local mode the
    driver heap is the whole executor memory pool, and a heap larger
    than the host lets the JVM grow until the machine runs out."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    kb = _host_memory_kb()
    if kb is None:
        return f"{_FALLBACK_DRIVER_MB}m"
    return f"{min(kb // 2048, _MAX_DRIVER_MB)}m"


def _local_dir() -> str:
    if "SPARK_LOCAL_DIRS" in os.environ:
        return os.environ["SPARK_LOCAL_DIRS"]
    shm = "/dev/shm/spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        probe = os.path.join(shm, ".probe")
        open(probe, "w").close()
        os.remove(probe)
        return shm
    except OSError:
        return "/tmp"


def get_spark(
    app_name: str = "hjsonschema_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cores`` pins ``local[cores]`` — used by bench.py to measure the
    N-vs-4N scaling efficiency required by the north rule.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores * 2, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing of small shuffle partitions and
        # skew-join splitting — the explicit skew story for skewed
        # conv_id distributions (north rule).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan cached plans too: otherwise run_suite's
        # persisted violation union keeps every branch's full shuffle
        # partition count, and each later scan of it pays for all of them
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # static conf: only takes effect when the session is created
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # the cache is keyed on the generated source; with the stage id
        # in the class name, a stage that AQE numbers differently from
        # one run to the next misses it
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Arrow: every pandas-UDF boundary is vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Timestamps in the transcript model are instants (UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = ONE JVM: the driver heap is the entire executor
        # memory pool (see default_driver_memory)
        .config("spark.driver.memory", default_driver_memory())
        # shuffle spill dir: this sandbox has ONE shared disk, so disk
        # shuffle IO is a serial term that caps multi-core scaling; on a
        # real cluster shuffle disks scale with nodes, so tmpfs is the
        # faithful proxy (cluster deployments override via SPARK_LOCAL_DIRS)
        .config("spark.local.dir", _local_dir())
        # managed-table home (bucketed fingerprint stores etc.) — keep
        # it on scratch space, never the working directory; production
        # deployments point this at the real catalog/warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(_local_dir(), "warehouse")
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_LOCAL_DF_MEMO: dict = {}


def local_relation(spark: SparkSession, rows: tuple, schema: str):
    """``rows`` as a JVM ``LocalRelation`` of DDL ``schema``: a
    ``VALUES`` with named parameters (the parser binds each value as a
    literal, so no quoting), cast column by column to the declared
    types; no rows is a ``LIMIT 0`` projection, which the optimizer
    also turns into an empty ``LocalRelation``. ``createDataFrame(list)`` would
    plan a ``Scan ExistingRDD`` over a parallelized Python RDD instead,
    and every collect of it forks Python workers to unpickle the rows."""
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields
    names = ["`" + f.name.replace("`", "``") + "`" for f in fields]
    types = [f.dataType.simpleString() for f in fields]
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types))
        return spark.sql(f"SELECT {cols} LIMIT 0")
    cols = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(zip(names, types))
    )
    # named markers: positional ones bind out of order in a VALUES of
    # more than two multi-column rows (pyspark 4.1.2)
    width = len(fields)
    values = ", ".join(
        "(" + ", ".join(f":p{r * width + i}" for i in range(width)) + ")"
        for r in range(len(rows))
    )
    flat = [v for row in rows for v in row]
    args = {f"p{k}": v for k, v in enumerate(flat)}
    return spark.sql(f"SELECT {cols} FROM VALUES {values}", args=args)


def cached_local_df(spark: SparkSession, rows: tuple, schema: str):
    """Memoized ``local_relation`` for SMALL STATIC relations: check id
    lists, schema verdicts, empty frames, literal vocabularies. Building
    one costs a py4j round-trip burst and bench/production loops
    rebuild the identical relation every run. Keyed on the session OBJECT (not its id — holding the
    reference also prevents id reuse after gc), so a new session never
    sees a stale frame. Plan-construction memo only: rows must be
    static configuration, never data-derived."""
    key = (spark, schema, rows)
    df = _LOCAL_DF_MEMO.get(key)
    if df is None:
        if len(_LOCAL_DF_MEMO) >= 256:
            _LOCAL_DF_MEMO.clear()
        df = _LOCAL_DF_MEMO[key] = local_relation(spark, rows, schema)
    return df


def iceberg_available(spark: SparkSession) -> bool:
    """True if the Iceberg Spark runtime is on the classpath."""
    global _ICEBERG_AVAILABLE
    if _ICEBERG_AVAILABLE is None:
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            _ICEBERG_AVAILABLE = True
        except Exception:
            _ICEBERG_AVAILABLE = False
    return _ICEBERG_AVAILABLE

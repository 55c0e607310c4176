"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


# DataFrames persisted by engine internals (e.g. the LSH band table of
# text.lsh_candidate_pairs) register here so long-lived sessions can release
# executor memory between jobs without tracking them by hand.
_PERSISTED: list = []


def register_persisted(df) -> None:
    _PERSISTED.append(df)


def unpersist_all(blocking: bool = False) -> int:
    """Unpersist every engine-registered cached DataFrame; returns the
    number released. Call between jobs in a long-lived session."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def fan_out(df, min_parallelism: int | None = None):
    """Ensure a scan feeds wide per-row compute (explode / trigram /
    shingle fan-out) with at least cluster parallelism.

    A small corpus often arrives as one unsplittable parquet row group,
    which serializes an explode that amplifies the data 100-1000x
    downstream. When the scan's partition count is below the session's
    default parallelism, pay one narrow-input round-robin shuffle (the
    *input* rows — cheap relative to the fan-out) to unlock full-width
    compute. When the scan is already wide (the 100 TB case: thousands
    of row groups across thousands of files), this is a no-op and adds
    no shuffle: the condition, not the repartition, is the contract.
    """
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    parts = df.rdd.getNumPartitions()
    return df.repartition(target) if parts < target else df


def _running_jvm_conf() -> SparkConf | None:
    """The SparkConf of a driver JVM that already runs in this process
    (spark-submit started it, or an earlier session did), else None.
    Never launches a JVM: under plain ``python`` the driver memory and
    -Xms reach the JVM only through the conf it is launched with."""
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()


def get_spark(app: str = "sparkspatial", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    The master is, in order: the `master` argument; the one a running
    driver JVM was launched with (``spark-submit --master ...``);
    ``local[SPARK_GRAFT_CPUS]``. The driver memory
    (``SPARK_DRIVER_MEM``, default 16g) and ``SPARK_GRAFT_XMS`` apply
    only when this call launches the JVM; under spark-submit they come
    from its flags. The SQL-level settings always apply, and all of
    them scale with cluster size via AQE.

    Generated classes: Spark caches the classes whole-stage codegen
    compiles in an LRU of ``spark.sql.codegen.cache.maxEntries``
    entries (default 100), keyed by the generated source. The engine's
    working set is far larger: one pass over every ``queries()`` entry
    at sf0.01 compiles about 1,100 classes, and one round of the kNN,
    salted shuffle join, trigram and cosine top-k operators needs more
    than 100. At 100 entries each round evicts what the next call
    needs, so every call recompiles: a second suite pass in the same
    session compiled 1,271 classes at 100 and 38-60 at 2048, with
    Metaspace 198 MB and 186 MB after it. The cap is therefore 2048,
    which holds the whole suite. It is a static setting, so it takes
    effect only when this call creates the session; ``extra_conf`` can
    still override it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    running = _running_jvm_conf()
    builder = (
        SparkSession.builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # hold the engine's generated classes across calls (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.ui.enabled", "false")
    )
    if master or running is None or not running.contains("spark.master"):
        builder = builder.master(master or f"local[{cpus}]")
    if running is None:
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Benchmarks pre-size the heap (-Xms == -Xmx) so timed runs
        # never pay heap-growth page-fault storms (observed 89% sys
        # time cold at local[32]). Env-gated: tests and ad-hoc
        # sessions keep the default lazy heap.
        xms = os.environ.get("SPARK_GRAFT_XMS")
        if xms:
            builder = builder.config("spark.driver.extraJavaOptions",
                                     f"-Xms{xms}")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()

"""SparkSession factory tuned for this pipeline.

Local mode is for tests/bench only; the same settings (AQE, skew-join
splitting, Arrow) are what you'd ship to a real multi-executor cluster
via spark-submit --py-files.

The session also sizes Spark's generated-code class cache to the
pipeline's working set (`CODEGEN_CACHE_ENTRIES`) and keeps whole-stage
codegen ids out of class names. Every operator plan is Java source that
Janino compiles into a class; the cache keys classes by their source,
so a plan that runs again reuses its class instead of compiling it
again (~7-10 ms each). At Spark's default of 100 entries one resolve
(~500 classes) evicted every class before it came round again, and
each operation paid all of its compiles anew: ~665 per resolve of the
benchmark corpus, ~175 per near-dup pass. AQE numbers the codegen
stages of a query in the order its query stages finish, so with the id
in the class name the same code got a new name, and a new compile,
whenever that order changed.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import SparkSession

from entity_resolver_spark.functions import ckernels

# Executor-worker memory tuning. Minor page faults on this host are
# ~100x normal cost (virtualized lazy memory), so churning large
# malloc'd buffers is catastrophic: glibc mmaps >128KB allocations and
# returns them on free, making UDF workers re-fault ~60MB of NumPy
# temps EVERY Arrow batch (measured: 0.25s user / 12s sys, 70k minor
# faults per batch). Raise the mmap threshold and disable trim so each
# worker faults its working set once and reuses it. numpy's
# madvise(MADV_HUGEPAGE) likewise triggers synchronous THP compaction
# stalls — disable. Python workers inherit the JVM's env, which
# inherits ours, so set these before the session starts.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(512 * 1024 * 1024))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(512 * 1024 * 1024))
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")

# spark.sql.codegen.cache.maxEntries: classes one session compiles,
# counted with an unbounded cache on a 4-core host (3 task threads; in
# local mode a whole-stage class is compiled and cached twice, for the
# driver's check and for the tasks' class loader). A resolve of the
# 3000-turn resolve_mixed corpus plus a second one on new inputs: ~560;
# near-dup set-up and passes: ~160; one tools/check_oracles.py sweep:
# ~760; 1479 together. 2000 leaves a third of headroom. A static SQL
# conf: CodeGenerator reads it once, when it first loads, so it must be
# set when the session is built (`extra_conf` still overrides it). A
# cached class costs metaspace it costs anyway — an evicted class is
# not unloaded, so at the default the recompiled copies pile up.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "entity_resolver_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with AQE + Arrow enabled.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or '*').
    shuffle_partitions: defaults to 2x cores locally — on a real
    cluster this would be sized to total executor cores.

    Compiles/loads the native string kernels first, so a host without
    a C compiler fails here rather than inside a task.
    """
    ckernels.load_lib()
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_up(spark: SparkSession, rows: int = 4_000_000) -> None:
    """Exercise the allocation-heavy paths once before timing: JVM
    shuffle/codegen buffers, Python UDF workers, Arrow transfer
    buffers. In this sandbox the first touch of fresh memory is ~100x
    slower than reuse, so a cold pipeline run attributes a large
    one-time cost to whichever stage allocates first; on a real
    cluster executors are long-lived and always warm. Benchmarks call
    this before t0 so throughput reflects steady state."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # 1) JVM: a wide shuffle with array columns
    (
        spark.range(rows)
        .withColumn("k", F.pmod(F.col("id"), F.lit(10_000)))
        .withColumn("arr", F.array(*[F.col("id") + i for i in range(8)]))
        .groupBy("k")
        .agg(F.sum(F.element_at("arr", 1)).alias("s"))
        .write.format("noop").mode("overwrite").save()
    )

    # 2) Python workers: fault in AND RETAIN each worker's working set
    # (~128MB of NumPy temps + the Arrow binary/list conversion paths
    # the real kernels use). With MALLOC_TRIM_THRESHOLD_ raised (top of
    # module), freed buffers stay in the worker's heap, so real UDF
    # batches run fault-free — minor faults cost ~100x normal here.
    @F.pandas_udf(T.DoubleType())
    def _touch(blob: pd.Series, arr: pd.Series) -> pd.Series:  # pragma: no cover
        import numpy as np

        acc = 0.0
        for _ in range(2):  # two generations, like real kernel temps
            bufs = [np.full(4_000_000, i, dtype=np.int64) for i in range(4)]
            acc += float(sum(b[::4096].sum() for b in bufs))
            del bufs
        acc += float(sum(len(b) for b in blob if b is not None))
        acc += float(np.concatenate([np.asarray(a) for a in arr]).sum())
        return pd.Series(np.full(len(blob), acc), dtype="float64")

    n_workers = int(spark.sparkContext.defaultParallelism)
    (
        spark.range(n_workers * 4 * 3000)
        .repartition(n_workers * 4)
        # ~2.5KB binary + a 64-slot double array per row: the same Arrow
        # column shapes (and per-batch volume) the scoring kernels see
        .withColumn("blob", F.expr("repeat(cast('x' as binary), 2500)"))
        .withColumn("arr", F.array(*[(F.col("id") + i).cast("double") for i in range(64)]))
        .select(_touch(F.col("blob"), F.col("arr")).alias("t"))
        .write.format("noop").mode("overwrite").save()
    )


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

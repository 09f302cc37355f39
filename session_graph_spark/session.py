"""SparkSession factory with the configs this engine relies on.

Tuned for the sandbox (single-JVM local[N]) but every setting is the one
we'd ship to a 1000-executor cluster: AQE on (partition coalescing + skew
join splitting), Arrow transfer for all pandas UDFs, and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "session-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if "[" in master:  # local[n] / local[*]
        n_str = master[master.find("[") + 1 : master.find("]")]
        n_threads = (os.cpu_count() or 8) if n_str == "*" else int(n_str)
    else:
        # cluster URL: executor count is unknown here; leave the Spark
        # default and let the deployer size shuffle_partitions explicitly
        n_threads = 200
    if shuffle_partitions is None:
        # match parallelism; AQE coalesces small shuffles back down
        shuffle_partitions = n_threads
    # NOTE: no global spark.task.cpus. The memory-bandwidth knee above ~16
    # concurrent string-heavy tasks (BENCH.md microbench) is handled where
    # the bandwidth-bound work lives — resolve(max_parallelism=...)
    # coalesces the extraction input — because a session-wide task.cpus=2
    # taxed every sub-second shuffle query ~2x in the round-2 bench, and
    # on 1-core-executor clusters it makes tasks unschedulable.
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing: tiny shuffles (distinct labels, pairs)
        # collapse to one task instead of fanning out N near-empty tasks;
        # 16m advisory keeps big shuffles at healthy parallelism
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # the same coalescing for cached plans: resolve()'s memory policy
        # caches every stage, and a cache otherwise freezes the pre-AQE
        # shuffle width — the ~23k-row er_wide pairs cache kept 8
        # partitions at local[4] and every downstream stage inherited
        # them (592 vs 243 tasks per resolve)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs every "executor" task inside this one JVM, so
        # the driver heap holds ALL execution+storage memory (guide §5):
        # at the 25M-turn bench corpus the 8g default sat on a spill/GC
        # cliff — an interleaved A/B read 8g {164.8, 65.5, 61.0}s vs 16g
        # {61.5, 60.8, 62.7}s for the sf1.0 headline (equal best, 2.7x
        # worst-case blowup at 8g). On a real cluster the driver does no
        # data work and deployers size executors; this default only
        # governs local/sandbox sessions and stays env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def bench_shuffle_partitions(cpus: int) -> int:
    """Reduce width for the bench entry points, parameterised on the
    advertised core count. Round 2 measured a memory-bus knee above ~16
    concurrent string-heavy shuffle tasks and ran reduce stages at half
    width; rounds 6-7 removed the wide string shuffles that knee came
    from (mention-level dedup exchanges folded into conv-keyed array
    aggregation), and the re-measured A/B now favors full width: the
    one remaining large exchange (per-conv label arrays) reads 4.9s at
    16 vs 3.9s at 32 reduce tasks, and the sf1.0 headline 41.6/39.2s at
    16 vs 37.8/35.6s at 32 (interleaved pairs, probe in commit 4247e06).
    AQE size-based coalescing still collapses small shuffles, so
    sub-second queries are unaffected. Shared by every measurement
    entry point so a re-tune lands once."""
    return max(cpus, 8)


def warm_udf_workers(spark: SparkSession, df, cpus: int) -> None:
    """Spin up one Python UDF worker per core OUTSIDE a timed region
    (first pandas-UDF stage otherwise pays an N-way import storm; real
    cluster executors are long-lived and arrive warm)."""

    def _noop(batches):
        import session_graph_spark.operators.extract  # noqa: F401 (preload)
        import session_graph_spark.operators.scoring  # noqa: F401
        for b in batches:
            yield b[["conv_id"]]

    df.select("conv_id").repartition(cpus * 2).mapInPandas(
        _noop, "conv_id string").count()

"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case: AQE on (runtime re-planning + skew-join
splitting), Arrow on (all Python boundaries are vectorized), shuffle
partitions sized to cores locally (cluster deployments override via
``spark.sql.adaptive.coalescePartitions`` which AQE re-sizes anyway).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "de_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); on a real
    cluster the master is taken from the environment/spark-submit and
    this argument is ignored by Spark.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # shuffle/spill dir: tmpfs by default when available — local-mode
        # shuffles otherwise serialize on one disk and cap thread scaling
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark_local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        # broadcast threshold: dictionaries' P section and constant-term
        # lookups are tiny; let Catalyst broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # prefer shuffled-hash over sort-merge (guide §3.1): the engine's
        # big joins key the fact table against vocabulary-sized uid
        # tables on STRING terms — SMJ pays an O(n log n) string sort on
        # BOTH sides per join, SHJ builds a per-partition hash map of
        # the small side only.  Measured at sf1.0 local[32]: the two
        # encode joins drop 34.5s → 10.5s warm (r7 profile).  The
        # planner still applies its size conditions (build side must
        # fit per partition) and AQE skew-split handles SHJ since 3.2,
        # so this is safe at cluster scale with sane partition sizing.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
        # cap GC/JIT threads: local[N] with default G1 spawns ~0.7*cores
        # GC threads ON TOP of N mutators — on an oversubscribed VM the
        # co-scheduling stalls convoy allocation-heavy stages (measured
        # here: a pure map job ran 3x slower at 24-32 threads than at 12)
        # floor of 2 so a pinned 2-core leg isn't oversubscribed by GC
        gc_threads = max(2, min(8, cpus // 2))
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={gc_threads} -XX:ConcGCThreads={max(1, gc_threads // 4)}",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(thunks: list) -> list:
    """Call independent Spark actions on driver threads and return their
    results in order.  Spark's scheduler interleaves their tasks;
    Catalyst planning of one action overlaps execution of the others
    (the py4j calls release the GIL).  If one raises, the error
    propagates only after every other call has finished, so no write
    is still in flight when the caller handles it."""
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]

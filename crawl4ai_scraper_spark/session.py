"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local mode here stands in for a multi-executor cluster: every choice below is
made for the 1000-executor / 100 TB case and merely *also* works on
``local[32]``:

* AQE + skew-join splitting — hot hosts concentrate frontier mass.
* Runtime Bloom-filter join — the frontier→pages fetch join pushes a bloom
  into the pages scan (on top of our explicit application-level bloom).
* Arrow batches sized for the pandas UDF extraction path.
* Shuffle partitions are a knob (tests: 8-32; cluster: O(cores×3)).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "crawl4ai-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make this package importable in executor Python workers. In local mode
    # workers inherit PYTHONPATH from the JVM (which inherits the driver env);
    # on a real cluster the same is done with spark-submit --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    cores = master.split("[")[-1].rstrip("]") if "[" in master else "32"
    try:
        n_cores = int(cores) if cores != "*" else (os.cpu_count() or 8)
    except ValueError:
        n_cores = 8
    shuffle_partitions = shuffle_partitions or max(8, n_cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Cluster-only straggler insurance: on a multi-executor cluster a
        # task stuck on a slow or failing node gets a speculative copy on
        # another executor instead of stalling the whole round. Our tasks are
        # deterministic and the commit protocol makes re-execution safe.
        # These settings do nothing in local mode: Spark never speculates
        # there (in local[4], a 6 s task among 0.2 s siblings started no
        # speculative copy, per the event log), so they cannot rescue a
        # wedged local Python worker.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        # NB: runtimeFilter.semiJoinReduction hangs the 4.1.2 planner (infinite
        # optimizer loop observed locally) — deliberately NOT enabled.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Scan-task granularity: smaller splits smooth the task-tail (a
        # 32-task stage on 32 cores idles cores behind its slowest task);
        # overridable for measurement via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

"""SparkSession construction with the engine's required configs.

Centralizes the settings the pipeline depends on:

* Arrow-batched pandas UDFs (all per-page logic rides on them); batch size
  kept small because a page row can carry megabytes of text;
* AQE with skew-join handling on (hot blocking keys and hot reference
  targets like "this Regulation" are Zipfian by nature);
* shuffle partitioning sized for the local harness but overridable for
  cluster runs via normal spark-submit --conf.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

#: Default driver/executor JVM options.  JDKs that dropped
#: ``GCLockerRetryAllocationCount`` would refuse to start on it;
#: ``IgnoreUnrecognizedVMOptions`` makes them skip it instead, while JDKs
#: that know the flag still apply it.
JAVA_OPTS = ("-XX:+IgnoreUnrecognizedVMOptions "
             "-XX:+UnlockDiagnosticVMOptions "
             "-XX:GCLockerRetryAllocationCount=64")

def get_spark(app_name: str = "inclusionreferenceskg-spark",
              master: Optional[str] = None,
              shuffle_partitions: Optional[int] = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # cluster runs set SPARK_GRAFT_MASTER (e.g. yarn, spark://...) —
    # builder.master would otherwise override spark-submit's --master
    master = (master or os.environ.get("SPARK_GRAFT_MASTER")
              or f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-first post-shuffle coalescing: the default
        # (parallelismFirst=true) keeps ~defaultParallelism partitions
        # even for KB-scale shuffles, so the pipeline's small-join tail
        # (resolve/link/CC/triples over per-mention tables) pays
        # core-count×(task launch + replan) of pure fixed latency — the
        # exact term that caps N-vs-4N scaling efficiency.  Size-first
        # coalesces those to 1-2 tasks while leaving the data-
        # proportional UDF stages (tens of MB per partition) untouched.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                "32m")
        # Static auto-broadcast OFF, adaptive auto-broadcast ON.  Every
        # kg-path table descends from a UDF fan-out and a localCheckpoint
        # whose LogicalRDD inherits the PRE-checkpoint size estimate (a
        # few KiB), so static broadcast decisions are made on garbage
        # stats: measured at 80k docs the planner broadcast the full
        # 3.48M-row resolve candidate table (1,856 MiB, 37.9 s of
        # single-threaded driver build) — and at 10^12 pages such a
        # broadcast is an executor OOM.  Intended small sides are all
        # explicit (F.broadcast / hints); AQE may still convert
        # shuffle->broadcast at runtime, where it sees REAL sizes and the
        # decision self-corrects at any scale.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Arrow's IPC readers/writers pin byte arrays via JNI critical
        # sections; under co-tenant CPU pressure G1's GCLocker can starve
        # an allocating task past the default 2 retries and throw a FAKE
        # "Java heap space" OOM with gigabytes free ("Retried waiting for
        # GCLocker too often" — reproduced 3× on the 320k-doc 16-core leg
        # at both 32g and 48g heaps, in whichever Arrow-heavy stage was
        # running when a burst hit; the identical plan passes in quiet
        # windows).  Raising the retry count is the documented JDK
        # mitigation and applies to any Arrow-UDF-heavy Spark job, local
        # or cluster.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("IRKG_DRIVER_JAVA_OPTS", JAVA_OPTS))
        .config("spark.executor.extraJavaOptions",
                os.environ.get("IRKG_EXECUTOR_JAVA_OPTS", JAVA_OPTS))
    )
    # The annotator is selected per executor process inside the pandas UDFs
    # (functions/annotate_spacy.get_annotator reads these), so a driver-side
    # env choice must ride spark.executorEnv to reach a real cluster; in
    # local mode executors inherit the driver env and this is a no-op.
    for env_key in ("IRKG_ANNOTATOR", "IRKG_SPACY_MODEL"):
        if os.environ.get(env_key):
            builder = builder.config(
                f"spark.executorEnv.{env_key}", os.environ[env_key])
    return builder.getOrCreate()

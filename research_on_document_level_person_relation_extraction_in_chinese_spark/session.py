"""SparkSession factory with scale-oriented defaults.

``get_spark`` starts the ``local[N]`` session of local runs, the tests and
``perfbench/``: AQE on (skew-join splitting + post-shuffle coalescing), Arrow
transfers on, and a shuffle partition count that AQE coalesces down at small
scale and fans out at large. The ``spark.driver.*`` settings here (memory,
JVM flags) reach only a driver JVM that this function starts; executors never
see them. ``scripts/run_pipeline.py`` under ``spark-submit`` builds its own
session, so there the driver's memory and JVM flags come from spark-submit
(``--driver-memory``, ``--driver-java-options``) and the executors keep the
cluster's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kg-construct",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS or *]``. On a real cluster the
    master is supplied by spark-submit and this falls through untouched.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(32, (cores or os.cpu_count() or 8))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — coalesce small post-shuffle partitions at
        # test scale, split skewed joins at 100 TB: build_edges joins the
        # triples to the mention table on the subject and object names, so
        # a much-mentioned person is a hot key on the triples side.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # minPartitionSize keeps Spark's 1 MiB default, so AQE reads a
        # KB-sized shuffle as one task. No KG stage does compute-heavy work
        # behind a shuffle (the parsing step and the fuzzy pair build run
        # map-side over file scans); a lower floor would only spread each
        # small reduce stage over ~parallelism tasks of fixed cost.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # broadcast decisions from MEASURED sizes only. Catalyst's static
        # size propagation does not scale estimates through Generate
        # (explode): a 60M-row exploded shingle table inherits its parquet
        # scan's ~20 MB estimate, every downstream join plans as a
        # BroadcastHashJoin, and the driver then serially builds a
        # multi-GB hashed relation (measured: a 70–160 s single-core stall
        # between the last shuffle stage and the final stage of the
        # LSH-dedup job; at cluster scale it would OOM the driver).
        # Static planning therefore never broadcasts implicitly (-1);
        # AQE re-plans shuffle joins into broadcasts from true runtime
        # sizes, and intentional dim-table broadcasts stay explicit via
        # F.broadcast() hints, which bypass the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        # Arrow batches for every pandas UDF / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 128 MiB input splits — sane parquet scan granularity at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # whole-stage codegen emits one class per query; the JVM default
        # 240 MB code cache fills after ~10 wide queries and the JIT stops
        # compiling → interpreted generated code runs ~20× slower (measured:
        # a 1 s aggregation became 37 s mid-benchmark).
        # -Xmn256m bounds the young generation. G1 otherwise sizes eden
        # adaptively up to 60% of the heap, so over a run it touches most of
        # the heap and the resident set follows the touched pages, not the
        # ~270 MB live set. With the benchmark's fixed 2 GB heap on 4 vCPUs
        # the bound cut the peak RSS from ~3.1 to ~1.7 GB (extract) and from
        # ~2.6 to ~1.4 GB (link_graph), for about twice the young pauses:
        # under 1% more CPU. 128m saved ~150 MB more for ~3x the GC work.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:CICompilerCount=8 -Xmn256m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()

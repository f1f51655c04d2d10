"""SparkSession construction with scale-appropriate defaults.

The defaults here are the ones we'd ship to a 1000-executor cluster reading
100 TB; in the sandbox they just run on local[N].  Key choices:

* AQE on — runtime coalescing of shuffle partitions and skew-join splitting.
* Arrow on — the extract stage is a pandas UDF; Arrow batching is the whole
  point (input_hint: "vectorized pandas/Arrow UDFs, no per-row Python").
* ``spark.sql.shuffle.partitions`` defaults to a multiple of cores locally;
  on a real cluster you'd size it to ~2-3× total cores and let AQE coalesce.
* Codegen cache of 512 classes — one ``run_batch`` plus its report uses
  130 distinct whole-stage-codegen classes (measured on a streaming epoch
  into snapshot sinks, 4 vCPUs, local[2]).  Spark's default of 100 entries
  is an LRU smaller than that loop, so it missed on nearly every class and
  each batch recompiled 70–109 of them (Janino, then HotSpot JIT again):
  0.2–0.4 s of compile and 1.6–1.9 s of JIT CPU per batch.  512 is about
  4× the working set, room for plan growth; tests/test_run_batch.py pins
  that a steady-state batch compiles nothing.  A static conf: it takes
  effect only in the builder that starts the first session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Off-heap state store for the stateful-streaming operators
# (streaming/stateful.py, streaming/lww.py, ...).  The default HDFS-backed
# provider keeps every key's state as JVM heap objects — at 10^12-turn scale
# the active-conversation state set (even bounded per key) pressures the
# executor heap and full snapshots dominate checkpoint time.  RocksDB keeps
# state off-heap with incremental changelog checkpoints, the standard
# production choice for large stateful jobs.  Runtime-settable SQL confs:
# apply via build_session(extra_conf=ROCKSDB_STATE_CONF),
# run_streaming_stateful(rocksdb=True), or spark.conf.set before the query
# starts (provider is picked at stream start).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    # changelog checkpointing: upload per-batch deltas instead of full
    # RocksDB snapshots — checkpoint cost tracks state CHANGE rate
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def build_session(
    app_name: str = "wolf_quake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("WQS_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Larger Arrow batches amortize the Python-worker round trip for the
        # vectorized extract stage.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("WQS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    # Throughput-oriented GC for batch work: G1's concurrent cycles dominate
    # wall time on many-core local runs (measured: 4.4 s "Concurrent Undo"
    # pauses at local[32]); ParallelGC is steadier for this allocation
    # pattern.  On a real cluster this lands in spark.executor.extraJavaOptions.
    java_opts = os.environ.get("WQS_JAVA_OPTS", "-XX:+UseParallelGC")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory.

Single place where execution knobs live so tests / bench / driver all get
the same tuned session.  Scale notes (100 TB design, local[32] test):

- AQE on: runtime coalescing + skew-join splitting is the first line of
  defense against skewed phash buckets (SURVEY.md §4) — explicit salting
  in operators/neardup.py is the second.
- shuffle.partitions defaults to #cores locally; on a real cluster this
  is set via spark-submit conf (rule of thumb: 2-3x total cores, or let
  AQE coalesce from a high initial number).
- Arrow on: every Python-side operator in this engine is Arrow-batched
  (pandas UDF / applyInPandas / mapInPandas); per-row Python is banned.
- UTC session timezone: parity with DuckDB's UTC-naive timestamps so the
  driver's oracle comparison is stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "stop_sync_osm_atlas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # In local[N] the parallelism is N threads; match shuffle width to it.
    n_threads = cpus
    if master.startswith("local["):
        # handle the full master grammar: local[N], local[*], and
        # local[N,maxFailures] (int('4,2') crashed the old parse)
        inner = master[len("local[") : -1].split(",")[0]
        n_threads = os.cpu_count() or 32 if inner == "*" else int(inner)
    elif master == "local":
        n_threads = 1
    if shuffle_partitions is None:
        # floor of 4: tiny local masters still get enough partitions
        # for AQE to coalesce. NOTE this makes the local[2]-vs-local[8]
        # scaling pair slightly asymmetric (4 partitions on 2 cores =
        # two task waves vs 8-on-8) — a constant of the recorded
        # methodology since round 1, kept so cross-round scaling
        # samples stay comparable.
        shuffle_partitions = max(4, n_threads)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Deliberately NO initialPartitionNum widening: measured on this
        # box (BENCH/BASELINE.md "Data-size linearity"), starting
        # shuffles at 4x threads bought only ~6.5% at 6.4M rows while
        # STABLY doubling the many-small-stage pipeline queries at the
        # 200k bench scale (more tasks -> per-task/Python-fork overhead
        # dominates). On a real cluster with 100x executors the initial
        # width comes from spark-submit conf, not this factory.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOT bigger-is-better: a 48g heap with G1 at 32 threads measured
        # 32x slower than 8g on allocation-heavy jobs (fresh-page zeroing
        # + GC region sizing). Sandbox datasets fit comfortably in 12g;
        # leave headroom for Python workers.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Sandbox-scale file splitting: test parquet is tiny (MBs), so the
        # 128MB default collapses scans to 1 task and hides all
        # parallelism. At real scale these would stay at defaults.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(1 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to the session's default parallelism when it
    has fewer partitions; otherwise return it unchanged.

    A small fixture file (one row group, one unsplittable gzip) scans
    as ONE task, serializing every per-row Python stage behind it on a
    single core. A wide scan (the 100 TB case) must never be
    reshuffled, hence the guard. Caveat: under AQE ``getNumPartitions``
    resolves the final physical plan, so any pre-final shuffle stages
    of ``df`` run here, and the count it sees is the post-shuffle one.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

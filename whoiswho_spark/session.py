"""SparkSession construction tuned for the ER workload.

Single place to set the scale-sensitive knobs so tests, bench, and the
driver contract all run with the same physics:

- AQE on (runtime re-plan, skew-join splitting) — the backstop for
  head-domain skew beyond our explicit salting.
- Arrow transfer on — every Python-side kernel is a vectorized pandas UDF.
- shuffle partitions sized to cores (local mode); on a real cluster this
  is set per-job via spark-submit conf.
- a codegen cache that holds a whole run's generated classes, so a
  repeated job never recompiles them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spread_small_input(df, min_factor: float = 0.5):
    """Repartition ``df`` to the cluster's default parallelism when the
    scan produced too few partitions to use it (the small-file trap:
    a sub-128MB parquet scans as ONE task, so any expensive pre-shuffle
    projection — n-gram building, a decode UDF — runs single-threaded).
    Already-parallel inputs pass through untouched: at real scale the
    scan has plenty of splits and the extra exchange would be waste.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_factor)):
        return df.repartition(target)
    return df


def master_io_defaults(master: str) -> dict[str, str]:
    """Shuffle-compression and scan-split defaults, which depend on
    where the bytes go; the SPARK_GRAFT_SHUFFLE_COMPRESS and
    SPARK_GRAFT_MAX_PARTITION_BYTES env knobs override both.

    A local master (``local``, ``local[N]``, ``local-cluster[...]``)
    shuffles to page-cache-backed local disk, where lz4's per-row framing
    CPU dominates narrow-row exchanges (round 6, sf1/local[32]: ngram's
    500M-row candidate distinct 46.2 s with lz4, 17.1 s uncompressed,
    94.0 s zstd), so shuffle is uncompressed; and it reads the 5–130 MB
    test files, which 128 MB splits would pack into 1–2 serial scan
    tasks, so splits target row-group size (16m). Any other master is a
    cluster: shuffle crosses NICs, where compression pays, and files are
    large, so Spark's own defaults apply (compressed, 128m; TB-scale
    inputs may want 512m–1g).
    """
    local = master.startswith("local")
    return {
        "spark.shuffle.compress": "false" if local else "true",
        "spark.sql.files.maxPartitionBytes": "16m" if local else "128m",
    }


def get_spark(
    app_name: str = "whoiswho_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers unpickle our pandas UDFs by importing whoiswho_spark;
    # make the package importable on workers regardless of caller cwd
    # (local mode: PYTHONPATH inherit; on a cluster use spark-submit
    # --py-files with the packaged zip instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; on a cluster, pass explicitly.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    io = master_io_defaults(master)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Broadcast policy (round 6, guide §3.1): STATIC size estimates are
        # the classic broadcast failure mode — a self-join whose build side
        # is "5.9 MB by file size" can fan out quadratically (the er pair
        # join emits 26M pairs at sf1) and a static broadcast pins that
        # whole stage to the scan's task count (ONE task for a one-row-
        # group file: measured 312 s single-threaded vs 50 s through the
        # exchange). So the static threshold trusts only trivially small
        # sides (1 MB); AQE's RUNTIME threshold (64 MB, actual shuffle
        # sizes, exact by construction) keeps every broadcast that is
        # genuinely small when materialized. Scale note: on a real cluster
        # the same split holds — static stats lie, runtime bytes don't;
        # both knobs stay env-overridable per deployment.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_STATIC_BROADCAST", str(1024 * 1024)),
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_RUNTIME_BROADCAST", str(64 * 1024 * 1024)),
        )
        .config(
            "spark.shuffle.compress",
            os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", io["spark.shuffle.compress"]),
        )
        # Generated-code cache (static, JVM-wide): one run_pipeline op
        # plus its evaluation compiles about 100 distinct whole-stage
        # classes, which is all of Spark's default 100 entries. At the
        # default, the evaluation evicts the pipeline's classes and the
        # next op recompiles about 40 of them (Janino, 20-50 ms each).
        # That makes the first repeated op about a second slower, and by
        # a varying amount. 512 entries keep a run's working set with
        # room to spare.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES",
                io["spark.sql.files.maxPartitionBytes"],
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

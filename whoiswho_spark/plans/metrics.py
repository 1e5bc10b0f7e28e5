"""Per-stage / per-partition lineage counters + stage checkpointing.

The north rule requires every stage to write per-partition lineage and
counters to a metrics table and to checkpoint its output so the pipeline
resumes mid-stage after failure. The reference has no such layer (its
"resume" is file-existence checks, /root/reference/whoiswho/dataset/
load_utils.py:25-173); ours is a thin deterministic table protocol:

- stage output  → parquet dir (``_SUCCESS`` is the completion marker —
  written atomically by Spark's committer, so a killed write never looks
  complete).
- metrics rows  → append-mode parquet ``metrics`` table with
  (run_id, stage, partition_id, rows_out, wall_ms, ts).

``stage()`` is the only entry point: skip-if-complete, else compute,
write, count per partition, append metrics. Partition counts come from
the write job itself: each successful write task's
``outputMetrics.recordsWritten`` as the JVM status store recorded it,
so ``partition_id`` is the partition index of the write task and
counting costs no extra Spark job. The task metrics are deterministic
under retries (one successful attempt per partition is counted). The
crash-window backfill on resume, which has no write to read from, and a
write the status store did not record in full re-count the stored table
by ``spark_partition_id`` instead.

Metric rows are built as a JVM literal relation (``_append_rows``),
never with ``spark.createDataFrame(list)``, which starts a Python worker
(about 1 s per call) for a handful of rows.

At cluster scale the same protocol targets Iceberg tables
(``writeTo(...).append()``); parquet-dir is the local stand-in with
identical semantics.
"""

from __future__ import annotations

import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, rows_out bigint, "
    "wall_ms bigint, ts timestamp"
)

# local properties SparkContext.setJobGroup sets; saved and restored
# around a stage write so the caller's job group survives it
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def _success_exists(spark: SparkSession, path: str) -> bool:
    # Use Hadoop FS (works for local paths and object stores alike).
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    return p.getFileSystem(conf).exists(p)


def _append_rows(
    spark: SparkSession, path: str, schema: str, rows: list[tuple]
) -> None:
    """Append ``rows`` to the parquet table at ``path``. ``schema`` is
    the table's DDL; its last column is the ``ts timestamp`` stamped
    here, so each row carries the values of the other columns in order.
    The rows become a literal relation planned in the JVM — one write
    job, no Python worker."""
    cols = [c.split() for c in schema.split(",")][:-1]
    lit_rows = F.array(
        *[
            F.struct(*[F.lit(v).cast(t).alias(n) for (n, t), v in zip(cols, row)])
            for row in rows
        ]
    )
    (
        spark.range(0, 1, 1, 1)
        .select(F.inline(lit_rows))
        .withColumn("ts", F.current_timestamp())
        .write.mode("append")
        .parquet(path)
    )


def append_metrics(
    spark: SparkSession,
    workdir: str,
    run_id: str,
    stage_name: str,
    out_df: DataFrame,
    wall_ms: int,
) -> None:
    """Count ``out_df`` per ``spark_partition_id`` and append the rows —
    the re-count for a stage whose write is not observable (resume
    backfill)."""
    counts = (
        out_df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows_out"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage_name).alias("stage"),
            "partition_id",
            "rows_out",
            F.lit(wall_ms).cast("bigint").alias("wall_ms"),
            F.current_timestamp().alias("ts"),
        )
    )
    counts.write.mode("append").parquet(f"{workdir}/metrics")


def _written_rows(spark: SparkSession, group: str) -> dict[int, int] | None:
    """partition → records written by the write job in job group
    ``group``, read from the JVM status store; None when the store does
    not hold the complete write (for example, the listener bus dropped
    events from a full queue).

    The write is the group's last job and its result stage is that job's
    highest stage id (earlier jobs are AQE query stages, whose shuffle
    map tasks write no records). Every attempt of the result stage is
    read, the last one first; only SUCCESS tasks count, one per
    partition, so stage retries and speculative copies are not
    double-counted."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # task-end events reach the status store through the async listener
    # bus; drain it so the write's tasks are all recorded
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Py4JJavaError:  # the drain timed out
        return None
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    if not job_ids:
        return None
    job = tracker.getJobInfo(max(job_ids))
    if job is None or job.status != "SUCCEEDED":
        return None
    result_stage = max(job.stageIds)
    info = tracker.getStageInfo(result_stage)
    if info is None:
        return None
    store = jsc.statusStore()
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    rows: dict[int, int] = {}
    for attempt in range(info.currentAttemptId, -1, -1):
        for td in as_java(store.taskList(result_stage, attempt, 2**31 - 1)):
            part = td.partitionId()
            if td.status() != "SUCCESS" or part in rows:
                continue
            m = td.taskMetrics()
            rows[part] = m.get().outputMetrics().recordsWritten() if m.isDefined() else 0
        if attempt == info.currentAttemptId and len(rows) != info.numTasks:
            return None  # the succeeded attempt lacks some of its tasks
    return rows


def _write_counted(
    spark: SparkSession, df: DataFrame, path: str, group: str
) -> dict[int, int] | None:
    """Write ``df`` to ``path`` under job group ``group`` and return its
    per-partition record counts (``_written_rows``). The caller's job
    group and description are restored afterwards."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        df.write.mode("overwrite").parquet(path)
    finally:
        for k, v in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)
    return _written_rows(spark, group)


def stage(
    spark: SparkSession,
    workdir: str,
    run_id: str,
    name: str,
    compute,
    resume: bool = True,
) -> DataFrame:
    """Checkpointed stage: returns the stage's output DataFrame, reading
    the existing checkpoint when complete (resume), else computing via
    ``compute() -> DataFrame``, writing, and recording lineage."""
    path = f"{workdir}/{name}"
    if resume and _success_exists(spark, path):
        persisted = spark.read.parquet(path)
        # Crash window: the checkpoint committer wrote _SUCCESS but the
        # process died before the lineage append. A resumed run would
        # otherwise return here and the (stage) metrics rows would be
        # missing FOREVER — backfill them from the checkpoint (wall_ms=0
        # marks a backfilled row; partition counts re-derived from the
        # stored table sum to the same rows the original append records).
        try:
            have = (
                read_metrics(spark, workdir)
                .where(F.col("stage") == name)
                .limit(1)
                .count()
                > 0
            )
        except Exception:
            have = False
        if not have:
            append_metrics(spark, workdir, run_id, name, persisted, wall_ms=0)
        return persisted
    t0 = time.monotonic()
    out = compute()
    written = _write_counted(
        spark, out, path, f"whoiswho_spark.stage:{run_id}:{name}:{new_run_id()}"
    )
    wall_ms = int((time.monotonic() - t0) * 1000)
    # reading with the written schema skips parquet's footer-inference
    # job; file sources read every column as nullable either way
    persisted = spark.read.schema(out.schema).parquet(path)
    if written is None:
        # the status store does not hold the whole write: re-count the
        # stored table instead
        append_metrics(spark, workdir, run_id, name, persisted, wall_ms)
        return persisted
    # an empty output still records one row, so every stage that ran
    # shows up in the lineage
    rows = [
        (run_id, name, p, n, wall_ms) for p, n in sorted((written or {0: 0}).items())
    ]
    _append_rows(spark, f"{workdir}/metrics", METRICS_SCHEMA, rows)
    return persisted


def stage_bucketed(
    spark: SparkSession,
    workdir: str,
    run_id: str,
    name: str,
    compute,
    bucket_col: str | None = None,
    n_buckets: int = 16,
    resume: bool = True,
) -> DataFrame:
    """Compatibility shim, read only by erbench's traced run until a
    benchmark change drops it: ``stage()``, ignoring the layout
    arguments (stage checkpoints are plain parquet)."""
    return stage(spark, workdir, run_id, name, compute, resume)


def read_metrics(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.schema(METRICS_SCHEMA).parquet(f"{workdir}/metrics")


# --- streaming counters -------------------------------------------------------

STREAMING_METRICS_SCHEMA = (
    "run_id string, query string, batch_id bigint, input_rows bigint, "
    "output_rows bigint, state_rows bigint, wall_ms bigint, ts timestamp"
)


def append_streaming_metrics(
    spark: SparkSession, workdir: str, run_id: str, query
) -> None:
    """Per-MICRO-BATCH counters for a finished streaming query — the
    streaming twin of ``append_metrics`` (the north rule's metrics-table
    contract applied to the stateful operators). One row per progress
    event from ``query.recentProgress``: input/output row counts, the
    state-store row total (registry/membership size), and batch wall.
    Appended to ``{workdir}/metrics_streaming``; at cluster scale the
    same rows target an Iceberg table.

    ``recentProgress`` retains the LAST ``spark.sql.streaming.
    numRecentProgressUpdates`` events (default 100) — the run_*_once
    helpers raise it before starting when a metrics_dir is passed; for
    hand-rolled long-running queries raise it yourself or attach a
    StreamingQueryListener. A drain with more micro-batches than the cap
    silently loses the OLDEST batches; that truncation is surfaced here
    as a loud warning (len(recentProgress) == cap is the tell) so the
    'every batch' contract can never fail silently."""
    import warnings

    progress = list(query.recentProgress)
    try:
        cap = int(
            spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
        )
    except Exception:
        cap = 100
    if progress and len(progress) >= cap:
        warnings.warn(
            f"streaming metrics for {query.name or query.id}: recentProgress "
            f"holds {len(progress)} events == the numRecentProgressUpdates "
            f"cap ({cap}) — the oldest micro-batches' counter rows were "
            "dropped; raise the cap (or attach a StreamingQueryListener) "
            "for a complete metrics table",
            RuntimeWarning,
            stacklevel=2,
        )
    rows = []
    for p in progress:
        state = p.get("stateOperators") or []
        state_rows = sum(int(s.get("numRowsTotal", 0)) for s in state)
        sink_rows = int((p.get("sink") or {}).get("numOutputRows", -1))
        rows.append(
            (
                run_id,
                str(p.get("name") or p.get("id") or "query"),
                int(p.get("batchId", -1)),
                int(p.get("numInputRows", 0)),
                sink_rows,
                state_rows,
                int((p.get("durationMs") or {}).get("triggerExecution", 0)),
            )
        )
    if rows:
        _append_rows(
            spark, f"{workdir}/metrics_streaming", STREAMING_METRICS_SCHEMA, rows
        )


def read_streaming_metrics(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.schema(STREAMING_METRICS_SCHEMA).parquet(
        f"{workdir}/metrics_streaming"
    )


RUN_COUNTERS_SCHEMA = (
    "run_id string, query string, key string, value bigint, ts timestamp"
)


def append_run_counters(
    spark: SparkSession,
    workdir: str,
    run_id: str,
    query: str,
    counters: dict[str, int],
) -> None:
    """Append named per-run counters (key → value) to the lineage store —
    the generic channel for operator-level observability the progress
    events can't carry (e.g. the streaming-ER ``blocks_at_cap`` count:
    applyInPandasWithState exposes no custom metrics to Python, so the
    operator surfaces cap hits as sentinel events and the run helper
    tallies them here). One row per key; read with read_run_counters."""
    if not counters:
        return
    rows = [(run_id, query, k, int(v)) for k, v in sorted(counters.items())]
    _append_rows(spark, f"{workdir}/counters", RUN_COUNTERS_SCHEMA, rows)


def read_run_counters(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.schema(RUN_COUNTERS_SCHEMA).parquet(f"{workdir}/counters")


def append_cumulative_counters(
    spark: SparkSession,
    workdir: str,
    run_id: str,
    query: str,
    cumulative: dict[str, int],
) -> None:
    """Record counters tallied over a GROWING log (e.g. a resumed
    streaming parquet sink, where each drain's tally re-counts every
    prior run's rows). Writes two rows per key: ``{key}_cumulative``
    (the tally as given) and ``{key}_this_run`` (the delta vs the
    largest previously recorded cumulative for this query — valid
    because a grow-only log makes the cumulative tally monotone).
    Summing ``*_this_run`` across runs equals the latest cumulative;
    summing the raw cumulative rows would overstate (the bug this
    helper exists to prevent)."""
    from pyspark.errors import AnalysisException

    prev: dict[str, int] = {}
    try:
        rows = (
            read_run_counters(spark, workdir)
            .where(F.col("query") == F.lit(query))
            .groupBy("key")
            .agg(F.max("value").alias("v"))
            .collect()
        )
        prev = {r["key"]: int(r["v"]) for r in rows}
    except AnalysisException:
        pass  # first run: no counters table yet
    out: dict[str, int] = {}
    for k, v in cumulative.items():
        out[f"{k}_cumulative"] = int(v)
        out[f"{k}_this_run"] = max(0, int(v) - prev.get(f"{k}_cumulative", 0))
    append_run_counters(spark, workdir, run_id, query, out)

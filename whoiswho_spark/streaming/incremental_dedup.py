"""Streaming incremental MinHash/LSH deduplication (SURVEY.md §2.11
extension; batch twin: operators/dedup.py minhash_dup_pairs).

The batch dedup family recomputes bucket joins over the full corpus; at
ingest time a 100 TB pipeline wants the incremental form — every newly
crawled document immediately reports which ALREADY-INGESTED documents it
collides with, without touching the historical corpus. This module holds
the per-LSH-bucket membership as OPERATOR STATE
(``applyInPandasWithState`` keyed by (band, bucket)):

- the signature/banding chain is the SAME Catalyst expression chain the
  batch operator uses (dedup._distinct_tokens_first +
  blocking.minhash_signature_sql + the md5 band buckets), so a document
  lands in byte-identical buckets in both engines and the streamed
  candidate-pair set equals the batch set on the same corpus;
- state per key is the bucket's member list (ids + signatures) —
  bounded by ``max_bucket_size``: beyond the cap a bucket stops
  ACCUMULATING members but still reports new-vs-retained pairs (the
  batch path bounds the same mega-buckets via size-conditional salting;
  a capped streaming bucket under-reports only pairs BOTH of whose
  members arrived after the cap, and boilerplate mega-buckets are
  precisely the ones whose pairs carry no dedup signal);
- within a micro-batch rows are processed in id order (Arrow chunks
  concatenated first) → deterministic output for a given file split;
- each emitted pair carries the signature-agreement estimate of Jaccard
  (matching hash fraction) so a downstream verifier can threshold
  without re-reading either document.

Pairs are emitted once per shared (band, bucket); cross-band duplicates
are left to the consumer (``.dropDuplicates(["id_a","id_b"])``) because
different bands live in different state partitions — the same reason the
batch plan dedups AFTER its bucket join.

State schema is v2 (ids, sigs, tss) since event-time retention landed;
a checkpoint written by the v1 (ids, sigs) schema cannot resume against
this build — Spark's state-schema compatibility check aborts the query.
Start a fresh checkpoint directory (the pair OUTPUT is append-only
parquet and survives; re-draining the source rebuilds membership).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from whoiswho_spark.operators.blocking import minhash_signature_sql
from whoiswho_spark.operators.dedup import band_bucket_structs_sql, tokens_sql

OUTPUT_SCHEMA = (
    "id_a string, id_b string, band int, bucket string, est_jaccard double"
)
STATE_SCHEMA = "ids array<string>, sigs array<string>, tss array<bigint>"

#: sentinel doc_id for maintenance rows (maintenance_touch_rows): touches
#: a (band, bucket) key so event-time eviction runs WITHOUT pairing or
#: admission; \x00 can never appear in a real document id column fed
#: through the parquet sources.
MAINTENANCE_ID = "\x00__maintenance__"

#: sentinel id_a for cap-hit rows: emitted (never stored) whenever a doc
#: pairs at a bucket already holding ``max_bucket_size`` members — the
#: runtime tell that later pairs against this doc are UNDER-REPORTED for
#: this bucket. Row shape: id_a=CAP_ID, id_b=the un-stored doc,
#: est_jaccard=the bucket size. run_incremental_dedup_once tallies these
#: into the run-counters table (``buckets_at_cap``,
#: ``cap_dropped_members``) and warns; reduce pair output with
#: ``distinct_candidate_pairs`` (filters the ``\x00`` namespace).
CAP_ID = "\x00__at_cap__"


def minhash_stream_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    ts_col: str | None = None,
) -> DataFrame:
    """(id, band, bucket, sig, ts) for a (streaming or batch) documents
    frame — the dedup.minhash_band_buckets chain, carrying the full
    signature string for the est_jaccard column and an ingest timestamp
    (epoch seconds; 0 when ``ts_col`` is None) for retention. Pure
    Catalyst, so it runs unchanged on a readStream source."""
    # null ingest ts coalesces to 0 = infinitely old: immediately outside
    # any retention window, never poisons int() in the matcher
    ts = (
        f"coalesce(CAST({ts_col} AS BIGINT), CAST(0 AS BIGINT))"
        if ts_col
        else "CAST(0 AS BIGINT)"
    )
    # same tokenize chain as the batch operator (dedup.tokens_sql +
    # array_distinct — the _distinct_tokens_first projection, widened by
    # the ts column)
    base = docs.selectExpr(
        id_col, f"{ts} AS ts", f"array_distinct({tokens_sql(text_col)}) AS _toks"
    )
    sig = minhash_signature_sql("_toks", num_hashes)
    sig_str = "concat_ws('_', " + ", ".join(f"CAST({h} AS STRING)" for h in sig) + ")"
    return base.selectExpr(
        f"{id_col} AS doc_id",
        f"{sig_str} AS sig",
        "ts",
        f"explode({band_bucket_structs_sql(sig, rows_per_band)}) AS bb",
    ).selectExpr("doc_id", "bb.band AS band", "bb.bucket AS bucket", "sig", "ts")


def _est_jaccard(sig_a: str, sig_b: str) -> float:
    pa, pb = sig_a.split("_"), sig_b.split("_")
    if not pa or len(pa) != len(pb):
        return 0.0
    return sum(1 for x, y in zip(pa, pb) if x == y) / len(pa)


def _parse_sig_row(s) -> "np.ndarray | None":
    """One signature string → int64 vector, or None if non-numeric."""
    import numpy as np

    try:
        parts = s.split("_")
        if not parts or parts == [""]:
            return None
        return np.array(parts, dtype=np.int64)
    except (ValueError, AttributeError):
        return None


def _parse_sig_matrix(sigs: list) -> "np.ndarray | None":
    """Signature strings ('h1_h2_...') → (n, H) int64 matrix, or None if
    the strings are ragged/non-numeric (e.g. state written with a
    different num_hashes) — callers fall back to the per-pair path,
    which scores mismatched lengths 0.0 like the batch estimator."""
    import numpy as np

    if not sigs:
        return np.zeros((0, 0), dtype=np.int64)
    try:
        parts = [s.split("_") for s in sigs]
        h = len(parts[0])
        if h == 0 or any(len(p) != h for p in parts):
            return None
        return np.array(parts, dtype=np.int64)
    except (ValueError, TypeError):
        return None


def _match_bucket_vectorized(
    band, bucket, pdf, ids, sigs, tss, max_bucket_size, out_parts
) -> tuple:
    """No-retention fast path: the whole bucket-batch in numpy. All new
    docs pair against the ORIGINAL members (one signature-equality
    broadcast) and against earlier-ADMITTED new docs (closed-form: with
    no evictions, exactly the first ``cap - len(ids)`` new docs are
    admitted). Emission order — per new doc: original-member pairs in
    state order, earlier-admitted pairs in admission order, then the cap
    sentinel — matches the sequential path row for row, so determinism
    claims and parity tests carry over unchanged. Returns the updated
    (ids, sigs, tss)."""
    import numpy as np

    pdf = pdf[pdf["doc_id"] != MAINTENANCE_ID]
    if len(ids):
        pdf = pdf[~pdf["doc_id"].isin(set(ids))]
    pdf = pdf.drop_duplicates("doc_id", keep="first")
    n_new = len(pdf)
    if n_new == 0:
        return ids, sigs, tss
    new_ids = pdf["doc_id"].to_numpy(dtype=object)
    new_sigs = list(pdf["sig"])
    new_tss = pdf["ts"].to_numpy()
    old_mat = _parse_sig_matrix(sigs)
    new_mat = _parse_sig_matrix(new_sigs)
    if (
        old_mat is None
        or new_mat is None
        or (len(ids) and new_mat.shape[1] != old_mat.shape[1])
    ):
        return None  # ragged signatures: caller uses the per-pair path
    n_old = len(ids)
    slots = max(0, max_bucket_size - n_old)
    k_adm = min(slots, n_new)
    # (n_new, n_old) and (n_new, k_adm) agreement fractions, one op each
    if n_old:
        est_old = (new_mat[:, None, :] == old_mat[None, :, :]).mean(axis=2)
        old_arr = np.array(ids, dtype=object)
    if k_adm:
        adm = new_mat[:k_adm]
        est_new = (new_mat[:, None, :] == adm[None, :, :]).mean(axis=2)
    ia, ib, est = [], [], []
    cap_size = float(n_old + k_adm)
    for i in range(n_new):
        me = new_ids[i]
        if n_old:
            lo = np.where(old_arr < me, old_arr, me)
            hi = np.where(old_arr < me, me, old_arr)
            ia.append(lo)
            ib.append(hi)
            est.append(est_old[i])
        k = min(i, k_adm)
        if k:
            prev = new_ids[:k]
            lo = np.where(prev < me, prev, me)
            hi = np.where(prev < me, me, prev)
            ia.append(lo)
            ib.append(hi)
            est.append(est_new[i, :k])
        if i >= slots:  # not admitted: cap sentinel after its pairs
            ia.append(np.array([CAP_ID], dtype=object))
            ib.append(np.array([me], dtype=object))
            est.append(np.array([cap_size]))
    if ia:
        ia_all = np.concatenate(ia)
        n_rows = len(ia_all)
        out_parts.append(
            {
                "id_a": ia_all,
                "id_b": np.concatenate(ib),
                "band": np.full(n_rows, band),
                "bucket": np.full(n_rows, bucket, dtype=object),
                "est_jaccard": np.concatenate(est),
            }
        )
    admitted = slice(0, k_adm)
    return (
        ids + list(new_ids[admitted]),
        sigs + list(new_sigs[:k_adm]),
        tss + [int(t) for t in new_tss[:k_adm]],
    )


def make_bucket_matcher(
    max_bucket_size: int = 256, retention_seconds: int | None = None
):
    """Per-(band,bucket) stateful matcher: every new doc pairs with the
    bucket's retained members, then joins the membership (up to the
    cap). With ``retention_seconds`` set, members whose ingest timestamp
    falls outside ``new_doc.ts - retention`` are EVICTED before pairing
    — EVENT-TIME retention: dedup against the trailing-T ingest window.
    Data-driven and deterministic (no wall clock, no Spark timers —
    ProcessingTimeTimeout never terminates under availableNow in this
    Spark build, verified empirically). Scope of the bound: an ACTIVE
    bucket's member list stays within its window occupancy; a bucket
    that stops receiving docs keeps its last members until next touched
    (there is no timer path to trim cold keys). The MAINTENANCE path
    closes that gap: a sentinel row (doc_id == MAINTENANCE_ID, see
    maintenance_touch_rows) touches its key, runs the same event-time
    eviction at the sentinel's ts, pairs/admits nothing, and REMOVES the
    state row entirely when the bucket empties — after a maintenance
    sweep the state key count is exactly the buckets with members inside
    the trailing window, making the ingest-rate × T bound strict
    (test_maintenance_sweep_bounds_state). Default (None) retains
    members forever: exact batch parity."""

    def match(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        band, bucket = key[0], key[1]
        if state.exists:
            ids, sigs, tss = (list(x) for x in state.get)
        else:
            ids, sigs, tss = [], [], []
        known = set(ids)

        out_parts: list = []
        out = {"id_a": [], "id_b": [], "band": [], "bucket": [], "est_jaccard": []}
        chunks = list(pdfs)
        whole = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        vector_done = False
        if len(whole):
            # event-time order when retention is on (eviction must see
            # docs oldest-first); plain id order otherwise — both are
            # deterministic for a given file split
            sort_keys = ["ts", "doc_id"] if retention_seconds is not None else ["doc_id"]
            pdf = whole.sort_values(sort_keys)
            if retention_seconds is None:
                # fast path: the whole bucket-batch in one numpy block
                res = _match_bucket_vectorized(
                    band, bucket, pdf, ids, sigs, tss, max_bucket_size, out_parts
                )
                if res is not None:
                    ids, sigs, tss = res
                    vector_done = True
        if len(whole) and not vector_done:
            # retention path (and the ragged-signature fallback):
            # sequential admission/eviction, with each doc's agreement
            # vector computed in one numpy op against the member matrix
            rows = [_parse_sig_row(s) for s in sigs]
            for doc_id, sig, ts in zip(pdf["doc_id"], pdf["sig"], pdf["ts"]):
                if doc_id == MAINTENANCE_ID:
                    # sweep-only touch: evict at this ts, no pair, no admit
                    if retention_seconds is not None:
                        cutoff = int(ts) - retention_seconds
                        keep = [i for i, t in enumerate(tss) if t >= cutoff]
                        if len(keep) != len(ids):
                            known -= {
                                ids[i]
                                for i in range(len(ids))
                                if i not in set(keep)
                            }
                            ids = [ids[i] for i in keep]
                            sigs = [sigs[i] for i in keep]
                            tss = [tss[i] for i in keep]
                            rows = [rows[i] for i in keep]
                    continue
                if doc_id in known:
                    # already a member of THIS bucket: the row adds
                    # nothing the batch bucket join wouldn't dedupe away
                    # (its pairs here all exist), so skipping keeps the
                    # pair set equal to batch — proven by the
                    # duplicate-id parity test. A recrawled id with NEW
                    # text lands in different buckets and is processed
                    # there normally.
                    continue
                if retention_seconds is not None:
                    cutoff = int(ts) - retention_seconds
                    keep = [i for i, t in enumerate(tss) if t >= cutoff]
                    if len(keep) != len(ids):
                        # drop evicted ids from `known` too: a recrawl of
                        # an evicted id later in this batch must re-admit
                        # and pair, not hit the stale-membership skip
                        known -= {ids[i] for i in range(len(ids)) if i not in set(keep)}
                        ids = [ids[i] for i in keep]
                        sigs = [sigs[i] for i in keep]
                        tss = [tss[i] for i in keep]
                        rows = [rows[i] for i in keep]
                if ids:
                    new_row = _parse_sig_row(sig)
                    if new_row is not None and all(
                        r is not None and r.shape == new_row.shape for r in rows
                    ):
                        ests = (np.stack(rows) == new_row).mean(axis=1)
                    else:
                        ests = np.array(
                            [_est_jaccard(sig, s) for s in sigs]
                        )
                    old_arr = np.array(ids, dtype=object)
                    lo = np.where(old_arr < doc_id, old_arr, doc_id)
                    hi = np.where(old_arr < doc_id, doc_id, old_arr)
                    out["id_a"].extend(lo.tolist())
                    out["id_b"].extend(hi.tolist())
                    out["band"].extend([band] * len(ids))
                    out["bucket"].extend([bucket] * len(ids))
                    out["est_jaccard"].extend(ests.tolist())
                if len(ids) < max_bucket_size:
                    ids.append(doc_id)
                    sigs.append(sig)
                    tss.append(int(ts))
                    rows.append(_parse_sig_row(sig))
                else:
                    # cap hit: the doc paired with the retained members
                    # but is NOT stored — future docs can't pair with it
                    # (the documented under-report). Surface it as a
                    # sentinel row (ER-twin discipline): id_b names the
                    # dropped doc, est_jaccard carries the bucket size.
                    out["id_a"].append(CAP_ID)
                    out["id_b"].append(doc_id)
                    out["band"].append(band)
                    out["bucket"].append(bucket)
                    out["est_jaccard"].append(float(len(ids)))
                known.add(doc_id)
        if ids:
            state.update((ids, sigs, tss))
        elif state.exists:
            # fully evicted (maintenance sweep or retention): drop the
            # state row so cold buckets stop occupying the store
            state.remove()
        if out["id_a"]:
            out_parts.append(out)
        if not out_parts:
            yield pd.DataFrame(out)
            return
        yield pd.DataFrame(
            {
                col: np.concatenate(
                    [np.asarray(p[col], dtype=object if col in
                                ("id_a", "id_b", "bucket") else None)
                     for p in out_parts]
                )
                for col in ("id_a", "id_b", "band", "bucket", "est_jaccard")
            }
        )

    return match


def maintenance_touch_rows(buckets: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(band, bucket[, ts]) → sentinel rows in the bucketed-stream shape
    (doc_id = MAINTENANCE_ID, empty sig): union these into the stream
    (``maintenance`` arg / ``maintenance_dir``) to sweep cold keys. The
    bucket list typically comes from the batch corpus snapshot
    (dedup.minhash_band_buckets) or the recorded pair output."""
    # the (band, bucket) columns are the STATE KEY: they must be
    # non-nullable like the main chain's (lit/md5 outputs), or the union
    # widens the key schema and a resumed checkpoint rejects it
    return buckets.select(
        F.lit(MAINTENANCE_ID).alias("doc_id"),
        F.lit("").alias("sig"),
        F.coalesce(F.col(ts_col).cast("bigint"), F.lit(0).cast("bigint")).alias("ts"),
        F.coalesce(F.col("band").cast("int"), F.lit(0)).alias("band"),
        F.coalesce(F.col("bucket").cast("string"), F.lit("")).alias("bucket"),
    ).select("doc_id", "band", "bucket", "sig", "ts")


def incremental_dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int = 256,
    ts_col: str | None = None,
    retention_seconds: int | None = None,
    maintenance: DataFrame | None = None,
) -> DataFrame:
    """documents stream (id, text[, ts]) → (id_a, id_b, band, bucket,
    est_jaccard) append stream of candidate duplicate pairs; bucket
    membership persists across micro-batches (and restarts, via the
    checkpoint dir). The groupBy shuffle is the same (band, bucket)
    shuffle the batch bucket-join pays. ``ts_col`` + ``retention_
    seconds`` bound retention by event time; ``maintenance`` (sentinel
    rows from maintenance_touch_rows, batch or streaming) sweeps cold
    keys so the state bound is strict (see make_bucket_matcher)."""
    if retention_seconds is not None and ts_col is None:
        # ts defaults to 0 for every row → negative cutoff → no eviction:
        # the event-time bound would be silently off (same guard as
        # incremental_er_stream)
        raise ValueError(
            "retention_seconds requires ts_col: with no event-time column "
            "every member gets ts=0 and retention never evicts"
        )
    bucketed = minhash_stream_buckets(
        docs, text_col, id_col, num_hashes, rows_per_band, ts_col=ts_col
    )
    if maintenance is not None:
        bucketed = bucketed.unionByName(maintenance)
    return bucketed.groupBy("band", "bucket").applyInPandasWithState(
        make_bucket_matcher(max_bucket_size, retention_seconds),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def distinct_candidate_pairs(pairs: DataFrame) -> DataFrame:
    """Reduce the streamed per-band pair log to the distinct candidate
    pair set: drops the ``\\x00`` sentinel namespace (cap-hit
    observability rows) and dedupes across bands — the form that equals
    batch ``minhash_dup_pairs`` output pairs."""
    return (
        pairs.where(~F.col("id_a").startswith("\x00"))
        .select("id_a", "id_b")
        .distinct()
    )


def _surface_cap_hits_dedup(
    spark, pairs: DataFrame, name: str, metrics_dir: str | None, run_id: str | None
) -> None:
    """Tally CAP_ID sentinel rows after a drain (the ER twin's
    discipline): warn when any bucket hit max_bucket_size — pairs
    against the un-stored docs are under-reported from then on — and
    record ``buckets_at_cap`` / ``cap_dropped_members`` in the
    run-counters lineage table, as BOTH ``*_cumulative`` (tallied over
    the whole pair log — a resumed parquet sink holds prior runs' rows
    too) and ``*_this_run`` (delta vs the previous recorded cumulative,
    so per-run rows sum correctly across resumed drains)."""
    import warnings

    from whoiswho_spark.plans.metrics import append_cumulative_counters, new_run_id

    cap = pairs.where(F.col("id_a") == F.lit(CAP_ID))
    agg = cap.agg(
        F.count("*").alias("dropped"),
        F.count_distinct("band", "bucket").alias("buckets"),
    ).collect()[0]
    dropped, buckets = int(agg["dropped"]), int(agg["buckets"])
    if dropped:
        warnings.warn(
            f"incremental_dedup[{name}]: {buckets} bucket(s) at "
            f"max_bucket_size ({dropped} doc(s) paired but not stored) — "
            "future pairs against those docs are UNDER-REPORTED for those "
            "buckets",
            RuntimeWarning,
            stacklevel=3,
        )
    if metrics_dir is not None:
        append_cumulative_counters(
            spark, metrics_dir, run_id or new_run_id(), name,
            {"buckets_at_cap": buckets, "cap_dropped_members": dropped},
        )


def run_incremental_dedup_once(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    name: str = "inc_dedup",
    schema: str | StructType = "doc_id string, text string",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int = 256,
    ts_col: str | None = None,
    retention_seconds: int | None = None,
    max_files_per_trigger: int = 1,
    output_dir: str | None = None,
    metrics_dir: str | None = None,
    run_id: str | None = None,
    maintenance_dir: str | None = None,
) -> DataFrame:
    """Drain a parquet directory through the stateful matcher with
    availableNow (one file per micro-batch → membership genuinely
    carries across batches). Memory sink by default; pass ``output_dir``
    for a parquet sink with CHECKPOINT RECOVERY (a later call with the
    same checkpoint resumes the state store and processes only new
    files). Pass ``metrics_dir`` to append per-micro-batch counters to
    the streaming metrics table (plans/metrics.py). Returns the
    candidate-pair table (per-band rows; consumers dropDuplicates on
    (id_a, id_b))."""
    from whoiswho_spark.plans.metrics import append_streaming_metrics, new_run_id

    prev_cap = None
    if metrics_dir is not None:
        # recentProgress keeps only the last N events (default 100); the
        # per-micro-batch counters contract needs every batch (session-
        # wide setting, read at query start; restored after the drain)
        prev_cap = spark.conf.get(
            "spark.sql.streaming.numRecentProgressUpdates", "100"
        )
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
        maintenance = None
        if maintenance_dir is not None:
            # second file source of (band, bucket, ts) touch requests —
            # appended between drains to sweep cold keys
            maintenance = maintenance_touch_rows(
                spark.readStream.schema("band int, bucket string, ts bigint")
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(maintenance_dir)
            )
        pairs = incremental_dedup_stream(
            stream,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            max_bucket_size=max_bucket_size,
            ts_col=ts_col,
            retention_seconds=retention_seconds,
            maintenance=maintenance,
        )
        if output_dir is not None:
            q = (
                pairs.writeStream.format("parquet")
                .queryName(name)
                .option("path", output_dir)
                .option("checkpointLocation", checkpoint_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            out = spark.read.parquet(output_dir)
            _surface_cap_hits_dedup(spark, out, name, metrics_dir, run_id)
            if metrics_dir is not None:
                append_streaming_metrics(spark, metrics_dir, run_id or new_run_id(), q)
            return out
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
        _surface_cap_hits_dedup(spark, out, name, metrics_dir, run_id)
        if metrics_dir is not None:
            append_streaming_metrics(spark, metrics_dir, run_id or new_run_id(), q)
        return out
    finally:
        if prev_cap is not None:
            spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", prev_cap
            )

"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Every query is forced through the noop sink (full materialization, no
driver collect). The ER pipeline bench reports candidate-pairs-scored/sec
— the north-star throughput metric — alongside per-query seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_bench(sf_dir: str, cpus: int, extra_conf=None) -> dict:
    from whoiswho_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="whoiswho_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra_conf,
    )
    qs = entrymod.queries()
    headline = [
        "minhash_dup_candidates",
        "ngram_jaccard_pairs",
        "exact_dedup",
        "embedding_neardup",
        "ann_topk",
        "pairwise_f1",
        "lineitem_pricing_summary",
        "revenue_by_nation",
        "window_topk",
        "token_stats",
        "events_hourly",
        "simhash_pairs",
        "gopher_repetition",
        "crossdoc_span_dedup",
    ]
    # best-of-N: the shared VM's co-tenant load makes single-shot
    # wall-clocks noisy (±20%); min over reps is the standard stable
    # estimator and also absorbs first-run JIT/codegen warmup. Default 3
    # since round 4: back-to-back best-of-2 runs the same hour measured
    # 15.0 s and 18.6 s for an identical build — one extra rep per query
    # (~1 min total) keeps the recorded number inside the noise floor.
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    timings: dict[str, float] = {}
    for name in headline:
        best = float("inf")
        for _ in range(reps):
            t0 = time.monotonic()
            _materialize(qs[name](spark, sf_dir))
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)

    # ER flagship: block → score → threshold → cluster over documents,
    # reporting scored-pairs/sec (the BASELINE.json throughput unit).
    pairs_scored, er_sec = 0, float("inf")
    for _ in range(reps):
        n, sec = _er_pipeline_bench(spark, sf_dir)
        pairs_scored, er_sec = n, min(er_sec, sec)
    timings["er_pipeline"] = round(er_sec, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "er_pairs_scored": pairs_scored,
        "er_pairs_per_sec": round(pairs_scored / er_sec, 1) if er_sec > 0 else 0.0,
    }
    spark.stop()
    return result


def _er_pipeline_bench(spark, sf_dir: str) -> tuple[int, float]:
    """Candidate-pair scoring + clustering over the documents table;
    returns (pairs scored, wall seconds)."""
    import pyspark.sql.functions as F

    from whoiswho_spark.operators.blocking import band_hash_sql, minhash_signature_sql
    from whoiswho_spark.operators.clustering import connected_components
    from whoiswho_spark.operators.dedup import _jaccard_sets_memo_udf, tokens_sql

    t0 = time.monotonic()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # tokenize+dedupe once; signatures share the array (dedup.
    # _distinct_tokens_first pattern — identical hashes, ~4× cheaper)
    base = docs.selectExpr(
        "CAST(doc_id AS STRING) AS url",
        "source",
        f"array_distinct({tokens_sql('text')}) AS toks",
    )
    # the first band's bucket (its two leading minhashes)
    band0 = band_hash_sql(minhash_signature_sql("toks", 4)[:2], 2)[0]
    blocks = base.selectExpr(
        "url", f"concat_ws('|', source, substring({band0}, 1, 16)) AS block_key", "toks"
    )
    a = blocks.select("block_key", F.col("url").alias("url_a"), F.col("toks").alias("toks_a"))
    b = blocks.select("block_key", F.col("url").alias("url_b"), F.col("toks").alias("toks_b"))
    # Arrow set-Jaccard kernel with the per-batch id→set memo (identical
    # doubles to the Catalyst array_intersect form on distinct arrays —
    # len(∩)/len(∪)); pairs clustered by url_a so each page's set is
    # built once per batch, not once per pair
    jac = _jaccard_sets_memo_udf()
    pairs = (
        a.join(b, "block_key")
        .where(F.col("url_a") < F.col("url_b"))
        .select(
            "url_a",
            "url_b",
            jac(
                F.col("url_a"), F.col("toks_a"),
                F.col("url_b"), F.col("toks_b"),
            ).alias("score"),
        )
    )
    pairs = pairs.persist()
    n_pairs = pairs.count()
    edges = pairs.where(F.col("score") >= 0.5).select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    )
    clusters = connected_components(edges, vertices=blocks.select("url").distinct())
    _materialize(clusters)
    pairs.unpersist()
    return n_pairs, time.monotonic() - t0


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    print(json.dumps(run_bench(sf_dir, cpus)))

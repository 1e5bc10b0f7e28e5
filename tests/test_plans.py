"""Physical-plan assertions — the 100 TB contract (SURVEY.md §4):
pushdown reaches the scan, small dims broadcast, unneeded columns
(especially html BINARY) are pruned, normalization stays in
whole-stage codegen."""

import pyspark.sql.functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    import __spark_entry__ as m

    df = m.queries()["lineitem_pricing_summary"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_lineitem(spark):
    import __spark_entry__ as m

    df = m.queries()["lineitem_pricing_summary"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    # ReadSchema must not include unused columns like l_partkey/l_suppkey
    rs = plan[plan.index("ReadSchema"):][:400]
    assert "l_partkey" not in rs and "l_suppkey" not in rs
    assert "l_quantity" in rs and "l_returnflag" in rs


def test_broadcast_join_for_small_dim(spark):
    import __spark_entry__ as m

    df = m.queries()["revenue_by_nation"](spark, "/root/testdata/sf0.01")
    assert "BroadcastHashJoin" in _plan(df)


def test_blocking_prunes_html(spark, corpus):
    """The blocking stage must never read the html BINARY column
    (SURVEY.md §4: 'critical: never read html unless extracting')."""
    import shutil

    from whoiswho_spark.operators.blocking import lsh_block_keys

    shutil.rmtree("/tmp/prune_probe", ignore_errors=True)
    corpus.select("url", "warc_ts", "html", "text", "lang").write.parquet(
        "/tmp/prune_probe"
    )
    pages = spark.read.parquet("/tmp/prune_probe")
    from whoiswho_spark.operators.blocking import normalized_host_col

    df = pages.select(
        "url",
        F.regexp_extract(F.col("html").cast("string"), r"(?is)<title>(.*?)</title>", 1).alias("title"),
        normalized_host_col(F.col("url")).alias("host"),
    )
    # blocking from the stored text column must prune html
    blocks_from_text = lsh_block_keys(
        pages.select(
            "url",
            F.col("text").alias("title"),
            normalized_host_col(F.col("url")).alias("host"),
        )
    )
    plan = _plan(blocks_from_text)
    rs = plan[plan.index("ReadSchema"):][:300]
    assert "html" not in rs and "warc_ts" not in rs


def test_normalization_is_whole_stage_codegen(spark):
    """The scalar §2.2 normalization chain (trim/lower/regexp) must sit
    inside a WholeStageCodegen span. (The token-filter step uses array
    higher-order functions, which Spark evaluates interpreted — that's
    inherent to HOFs, and the pair-scoring hot path avoids them via the
    fused Arrow UDF, scoring._all_features_udf.)"""
    from whoiswho_spark.functions.normalize import norm_text_col

    df = spark.createDataFrame([("A b! C",)], "t string").select(
        norm_text_col(F.col("t")).alias("n")
    )
    # '*(n)' prefixes mark WholeStageCodegen stages in executedPlan toString
    assert "*(1) Project" in _plan(df)


def test_pair_join_is_narrow_before_payload(spark):
    """candidate_pairs joins payload AFTER the quadratic self-join: the
    self-join side must only carry (block_key, url) columns."""
    from whoiswho_spark.operators.pairs import candidate_pairs

    blocks = spark.createDataFrame(
        [("u1", "b"), ("u2", "b")], "url string, block_key string"
    )
    payload = spark.createDataFrame(
        [("u1", list(range(64))), ("u2", list(range(64)))],
        "url string, embedding array<int>",
    )
    out = candidate_pairs(blocks, payload=payload)
    opt = _optimized(out)
    # the payload joins appear above the block self-join in the plan tree:
    # optimized plan's innermost join must be on block_key with 2-col inputs
    assert opt.count("Join") >= 3  # self-join + two payload attaches

"""Blocking + candidate-pair operators: engine-portable hashing, salted
join equivalence, block caps."""

import duckdb
import pyspark.sql.functions as F

from whoiswho_spark.operators.blocking import (
    cap_block_size,
    hash60,
    lsh_block_keys,
    normalized_host_col,
)
from whoiswho_spark.operators.pairs import candidate_pairs, salted_candidate_pairs


def test_hash60_matches_duckdb(spark):
    toks = ["alpha", "beta", "北京", ""]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", hash60(F.col("t"), 3).alias("h")).collect()}
    for t in toks:
        want = duckdb.sql(
            "select cast(concat('0x', substring(md5(? || ':3'),1,15)) as bigint)",
            params=[t],
        ).fetchone()[0]
        assert got[t] == want, t


def test_minhash_matches_duckdb_min(spark):
    """Regression for the transform-(element,index) lambda trap: each
    signature slot must equal the true min over per-token hashes."""
    import duckdb as dd
    from whoiswho_spark.operators.blocking import minhash_signature_cols

    toks = ["hello", "world", "foo", "bar", "baz", "quux"]
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    sig = minhash_signature_cols(F.col("toks"), 4)
    row1 = df.select(*[s.alias(f"h{i}") for i, s in enumerate(sig)]).collect()[0]
    row2 = df.select(*[s.alias(f"h{i}") for i, s in enumerate(sig)]).collect()[0]
    assert list(row1) == list(row2)
    for k in range(4):
        want = min(
            dd.sql(
                f"select cast(concat('0x', substring(md5(? || ':{k}'),1,15)) as bigint)",
                params=[t],
            ).fetchone()[0]
            for t in toks
        )
        assert row1[f"h{k}"] == want, k


def test_normalized_host(spark):
    df = spark.createDataFrame(
        [
            ("https://www.Example.com/x/y",),
            ("http://sub.site.org:8080/p?q=1",),
            ("https://plain.net",),
            ("HTTP://WWW.Upper.COM/page",),  # RFC 3986: schemes case-insensitive
        ],
        "url string",
    )
    got = [r["h"] for r in df.select(normalized_host_col(F.col("url")).alias("h")).collect()]
    assert got == ["example.com", "sub.site.org", "plain.net", "upper.com"]


def test_lsh_blocks_same_title_same_blocks(spark):
    df = spark.createDataFrame(
        [
            ("https://a.com/1", "Deep Learning for Web Pages"),
            ("https://a.com/2", "Deep Learning for Web Pages"),
            ("https://a.com/3", "Completely Different Topic Here"),
        ],
        "url string, title string",
    ).withColumn("host", normalized_host_col(F.col("url")))
    blocks = lsh_block_keys(df)
    k1 = {r["block_key"] for r in blocks.where("url = 'https://a.com/1'").collect()}
    k2 = {r["block_key"] for r in blocks.where("url = 'https://a.com/2'").collect()}
    k3 = {r["block_key"] for r in blocks.where("url = 'https://a.com/3'").collect()}
    assert k1 == k2  # identical titles → identical keys in every band
    assert not (k1 & k3)


def test_salted_pairs_equal_plain_pairs(spark):
    rows = [(f"u{i}", f"b{i % 5}") for i in range(40)]
    blocks = spark.createDataFrame(rows, "url string, block_key string")
    plain = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(blocks).collect()
    }
    salted = {
        (r["url_a"], r["url_b"])
        for r in salted_candidate_pairs(blocks, n_salts=4).collect()
    }
    assert plain == salted
    # pair count per block of size 8: C(8,2)=28, times 5 blocks
    assert len(plain) == 5 * 28


def test_pairs_dedupe_across_bands(spark):
    # same url pair in two blocks → one scored pair
    blocks = spark.createDataFrame(
        [("u1", "k1"), ("u2", "k1"), ("u1", "k2"), ("u2", "k2")],
        "url string, block_key string",
    )
    got = candidate_pairs(blocks).collect()
    assert len(got) == 1
    assert (got[0]["url_a"], got[0]["url_b"]) == ("u1", "u2")


def test_candidate_pairs_unique_on_url_pair(spark):
    """Both pair generators emit each (url_a, url_b) once, payload attached,
    even when two urls share every LSH band's block: the precondition for
    threshold_edges keeping one edge per pair row with no distinct."""
    bands = [(u, f"h|{b}|k") for u in ("u1", "u2", "u3") for b in range(4)]
    blocks = spark.createDataFrame(
        bands + [("u1", "x"), ("u2", "x")], "url string, block_key string"
    )
    payload = spark.createDataFrame(
        [("u1", 1), ("u2", 2), ("u3", 3)], "url string, n int"
    )
    for pairs in (
        candidate_pairs(blocks, payload=payload),
        salted_candidate_pairs(blocks, n_salts=4, payload=payload),
    ):
        got = sorted((r["url_a"], r["url_b"]) for r in pairs.collect())
        assert got == [("u1", "u2"), ("u1", "u3"), ("u2", "u3")]


def test_cap_block_size(spark):
    rows = [(f"u{i:03d}", "big") for i in range(100)] + [("x", "small")]
    blocks = spark.createDataFrame(rows, "url string, block_key string")
    capped = cap_block_size(blocks, cap=10)
    sizes = {r["block_key"]: r["n"] for r in capped.groupBy("block_key").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"big": 10, "small": 1}
    # deterministic: same cap twice → same survivors
    a = sorted(r["url"] for r in capped.collect())
    b = sorted(r["url"] for r in cap_block_size(blocks, cap=10).collect())
    assert a == b

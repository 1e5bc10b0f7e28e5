"""Blocking stage — the web analog of WhoIsWho's author-name blocks.

The reference regroups all papers under each normalized author name
(/root/reference/whoiswho/dataset/data_process.py:60-84) and runs every
downstream stage per block. Our block key is ``normalized host`` +
``MinHash/LSH band bucket over title tokens`` (BASELINE.json north_star).

Design for 100 TB:
- MinHash signatures are pure Catalyst exprs (md5-based 60-bit hash
  family → ``array_min`` over ``transform``), built as SQL text (one JVM
  call per expression): whole-stage codegen, zero Python, zero shuffle
  to compute. The hash family is deterministic and
  engine-portable (same values in DuckDB SQL → oracle-checkable).
- one ``explode`` over bands → (url, block_key); the only shuffle in this
  stage is the downstream self-join's exchange on block_key.
- head-domain skew: per-block size caps via ``row_number()`` windows
  (the analog of the reference's per-author paper caps,
  adhoc_features.py:38,105 / oagbert_features.py:45) plus salted
  replicate-join in pairs.py; AQE skew-join is the backstop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whoiswho_spark.functions.normalize import norm_text_sql, title_tokens_sql
from whoiswho_spark.functions.sqltext import sql_str, sql_text

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4


def hash60_sql(x: str, salt: str | int) -> str:
    """Deterministic 60-bit hash of the SQL expression ``x``: first 15
    hex chars of md5(x ':' salt).

    Portable across engines: Spark ``conv(substr(md5(..)))`` and DuckDB
    ``('0x' || substring(md5(..)))::BIGINT`` produce identical values —
    blocking keys are byte-stable across runs and engines.
    """
    return (
        f"CAST(conv(substring(md5(concat({x}, {sql_str(f':{salt}')})), 1, 15), "
        "16, 10) AS BIGINT)"
    )


def hash60(col: Column | str, salt: str | int) -> Column:
    """``hash60_sql`` as a Column (a str is SQL text, e.g. a column name)."""
    return F.expr(hash60_sql(sql_text(col), salt))


_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/:?#]+)"
_WWW_RE = r"^www\."


def normalized_host_sql(url: str) -> str:
    """Host from the url SQL expression ``url``, lowercased, leading
    'www.' stripped. The url is lowercased BEFORE the scheme regex: RFC
    3986 schemes are case-insensitive ('HTTP://…' is legal crawl data)
    and extracting from the raw string would return '' for them —
    collapsing every uppercase-scheme url into one shared empty-host
    block."""
    host = f"regexp_extract(lower({url}), {sql_str(_HOST_RE)}, 1)"
    return f"regexp_replace({host}, {sql_str(_WWW_RE)}, '')"


def normalized_host_col(url: Column | str) -> Column:
    return F.expr(normalized_host_sql(sql_text(url)))


def minhash_signature_sql(tokens: str, num_hashes: int) -> list[str]:
    """k independent MinHash values over the token-array SQL expression
    ``tokens`` — array_min over a per-hash transform; empty/null token
    arrays hash a sentinel so every row gets a block (singleton blocks
    are harmless)."""
    safe = (
        f"CASE WHEN {tokens} IS NULL OR size({tokens}) = 0 "
        f"THEN array('__empty__') ELSE {tokens} END"
    )
    return [
        f"array_min(transform({safe}, tok -> {hash60_sql('tok', k)}))"
        for k in range(num_hashes)
    ]


def minhash_signature_cols(tokens: Column | str, num_hashes: int) -> list[Column]:
    """``minhash_signature_sql`` as Columns."""
    return [F.expr(h) for h in minhash_signature_sql(sql_text(tokens), num_hashes)]


def band_hash_sql(sig: list[str], rows_per_band: int) -> list[str]:
    """One md5 per LSH band over its ``rows_per_band`` signature values
    joined by '_' — THE band bucket definition, shared by the blocking
    keys, the dedup buckets and the streaming dedup twin, so a document
    lands in byte-identical buckets everywhere by construction."""
    r = rows_per_band
    return [
        "md5(concat_ws('_', "
        + ", ".join(f"CAST({p} AS STRING)" for p in sig[b * r : (b + 1) * r])
        + "))"
        for b in range(len(sig) // r)
    ]


def lsh_block_keys(
    df: DataFrame,
    url: str = "url",
    title: str = "title",
    host: str = "host",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(url, ...) → (url, block_key), one row per LSH band.

    block_key = host | band_index | md5(band minhashes). Same-band equal
    signatures ⇒ same block. Multiple bands trade recall vs block size;
    downstream pair-dedup (url_a,url_b distinct) removes multi-band hits.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}: "
            "the trailing hashes would be computed and silently discarded"
        )
    # tokenize + dedupe ONCE in a prior projection so the per-hash
    # columns share the array instead of re-running the split (see
    # dedup._distinct_tokens_first — ~4× cheaper signatures)
    base = df.selectExpr(
        url, host, f"array_distinct({title_tokens_sql(norm_text_sql(title))}) AS _toks"
    )
    sig = minhash_signature_sql("_toks", num_hashes)
    keys = [
        f"concat_ws('|', {host}, '{b}', substring({h}, 1, 16))"
        for b, h in enumerate(band_hash_sql(sig, num_hashes // bands))
    ]
    return base.selectExpr(url, f"explode(array({', '.join(keys)})) AS block_key")


def cap_block_size(blocks: DataFrame, cap: int, order_col: str = "url") -> DataFrame:
    """Deterministic per-block cap — the scale guard against boilerplate
    mega-blocks (reference analog: maxPapers caps). Keeps the ``cap``
    lowest-hash members so the choice is stable across runs/engines
    (secondary key on the raw column breaks 60-bit hash-collision ties —
    same discipline as rnd.deterministic_sample)."""
    w = Window.partitionBy("block_key").orderBy(
        hash60(order_col, "cap"), F.asc(order_col)
    )
    return (
        blocks.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def salted_distinct_count(
    df: DataFrame, key: str, val: str, n_salts: int = 16
) -> DataFrame:
    """Exact countDistinct per key via two-phase salted aggregation
    (SURVEY.md §4 custom-work #3): phase 1 dedupes values inside
    (key, salt) sub-groups — a heavy-hitter key's value set is split
    across n_salts reducers — phase 2 merges the per-salt sets.
    Result-identical to ``countDistinct`` (oracle-checked); use when one
    key owns enough of the data that a single reducer would spill.
    """
    salted = df.select(
        F.col(key),
        F.col(val),
        F.pmod(hash60(F.col(val).cast("string"), "aggsalt"), F.lit(n_salts)).alias(
            "_salt"
        ),
    )
    # phase 1: per (key, salt) distinct-value count — salts partition the
    # VALUE space, so per-salt counts are disjoint and simply add up
    partial = salted.groupBy(key, "_salt").agg(
        F.countDistinct(val).alias("_part")
    )
    return partial.groupBy(key).agg(
        F.sum("_part").cast("bigint").alias("n_distinct")
    )


def block_stats(blocks: DataFrame) -> DataFrame:
    """Block-size histogram — the skew diagnostic (drives salt choice)."""
    return (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .groupBy("block_size")
        .agg(F.count("*").alias("n_blocks"))
        .orderBy("block_size")
    )

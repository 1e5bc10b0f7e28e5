"""Candidate-pair generation — within-block self-join.

The reference's N×N per-block loops (/root/reference/whoiswho/training/
AutoTrainSND.py:142-159, bond/dataset/dump_graph.py:88-132) become one
equi-join on ``block_key`` with the theta predicate ``url_a < url_b``
(SURVEY.md §2.4). Catalyst plans a shuffled hash / sort-merge join; at
100 TB the dominant costs are the exchange on block_key and the quadratic
blowup inside head blocks — both handled here:

- pair dedup across LSH bands: ``distinct`` on (url_a, url_b) BEFORE
  feature scoring, so multi-band collisions are scored once.
- explicit salting (``salted_candidate_pairs``): classic replicate-join —
  left side gets ``salt = pmod(hash60(url), s)``, right side is replicated
  to all s salts via explode, join key = (block_key, salt). Preserves the
  exact pair set while splitting a hot block's hash bucket across s tasks.
- AQE skew-join stays on as backstop for mid-size skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoiswho_spark.operators.blocking import hash60


def candidate_pairs(blocks: DataFrame, payload: DataFrame | None = None) -> DataFrame:
    """blocks(url, block_key) → pairs(block_key, url_a, url_b), deduped.

    When ``payload`` (url, feature cols...) is given, both sides are
    enriched after the pair join — joining payload twice on url, not
    carrying wide rows through the quadratic self-join (keeps the shuffle
    rows narrow: two strings per side).
    """
    a = blocks.selectExpr("block_key", "url AS url_a")
    b = blocks.selectExpr("block_key", "url AS url_b")
    pairs = a.join(b, "block_key").where("url_a < url_b")
    # One scored pair per (url_a,url_b): keep the lexically-min block_key so
    # the choice is deterministic (multi-band hits collapse to one row).
    pairs = pairs.groupBy("url_a", "url_b").agg(F.expr("min(block_key) AS block_key"))
    if payload is not None:
        pairs = _attach_payload(pairs, payload)
    return pairs


def salted_candidate_pairs(
    blocks: DataFrame, n_salts: int, payload: DataFrame | None = None
) -> DataFrame:
    """Skew-proof variant: replicate-join on (block_key, salt).

    Same result set as ``candidate_pairs`` (property-tested); use when the
    block-size histogram (blocking.block_stats) shows head blocks large
    enough that one join task would own a quadratic hot bucket.
    """
    a = blocks.select(
        "block_key",
        F.col("url").alias("url_a"),
        F.pmod(hash60("url", "pairsalt"), F.lit(n_salts)).alias("salt"),
    )
    b = blocks.select(
        "block_key",
        F.col("url").alias("url_b"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    pairs = (
        a.join(b, ["block_key", "salt"])
        .where(F.col("url_a") < F.col("url_b"))
        .select("block_key", "url_a", "url_b")
    )
    pairs = pairs.groupBy("url_a", "url_b").agg(F.min("block_key").alias("block_key"))
    if payload is not None:
        pairs = _attach_payload(pairs, payload)
    return pairs


def _attach_payload(pairs: DataFrame, payload: DataFrame) -> DataFrame:
    """CONTRACT: ``payload`` must contain exactly one row per blocked
    url (the pipeline derives blocks FROM the payload table, so this
    holds there by construction). The joins are inner: a pair whose url
    is missing from payload is silently dropped, and duplicate payload
    urls would duplicate pairs — callers filtering the payload between
    blocking and scoring must re-block instead."""
    cols = [c for c in payload.columns if c != "url"]
    pa = payload.selectExpr("url AS url_a", *[f"{c} AS {c}_a" for c in cols])
    pb = payload.selectExpr("url AS url_b", *[f"{c} AS {c}_b" for c in cols])
    return pairs.join(pa, "url_a").join(pb, "url_b")

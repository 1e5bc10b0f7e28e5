"""Text normalization — the byte-identical contract surface (SURVEY.md §2.2).

The reference normalizes every text field with the same 4-step chain
(/root/reference/whoiswho/dataset/data_process.py:122-126, 176-179, 190-194,
249-299):

    s.strip() → s.lower() → re.sub(PUNCS, ' ', s) → re.sub(r'\\s{2,}', ' ', s).strip()

then tokenizes with field-specific filters:

- title  (data_process.py:127-130): split(' '), keep len>1, drop STOPWORDS,
  drop STOPWORDS_CHECK; duplicates KEPT (list).
- org    (data_process.py:176-184): keep len>1, drop STOPWORDS,
  drop STOPWORDS_EXTEND; duplicates DROPPED per paper (``set()`` — the
  asymmetry trap flagged in SURVEY.md §7.3).
- venue  (data_process.py:190-202): keep len>1, drop STOPWORDS,
  STOPWORDS_EXTEND, STOPWORDS_CHECK; empty result → literal ['null'].
- embedding corpus (semantic_features.py:117-121): keep len>2, drop all
  three lists.

Two implementations with identical output on the corpus domain:

1. ``norm_text_sql`` / ``*_tokens_sql`` — pure Catalyst exprs (lower/trim/
   regexp_replace/split/filter) built as SQL text (one JVM call per
   chain; ``*_col`` wraps them as Columns): JVM-side, whole-stage-
   codegen'd; the hot path at 100 TB.
2. ``extract_text_udf`` — an Arrow-batched pandas UDF that runs the
   *reference's own* regex chain in Python ``re``; this is the
   byte-identical contract column for html→text extraction and the oracle
   for golden tests.

Java-vs-Python regex note: the portable PUNCS class (constants.py) is
identical in both engines; ``(?U)`` makes Java's ``\\s`` unicode-aware to
match Python ``re``. Golden tests (tests/test_normalize.py) assert equality
of both paths against the reference pattern on adversarial strings.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from whoiswho_spark.constants import (
    PUNCS,
    PUNCS_REFERENCE_PY,
    STOPWORDS,
    STOPWORDS_CHECK,
    STOPWORDS_EXTEND,
)
from whoiswho_spark.functions.sqltext import sql_str, sql_text

# ---------------------------------------------------------------------------
# Catalyst expressions (JVM hot path), built as SQL text
# ---------------------------------------------------------------------------
# Each ``*_sql`` function maps the SQL text of its input to the SQL text of
# the result, so a whole chain costs one ``F.expr`` / ``selectExpr`` call
# (functions/sqltext.py); the ``*_col`` forms wrap it for Column callers.

_UNI_TRIM = r"(?U)^\s+|(?U)\s+$"
_UNI_WS2 = r"(?U)\s{2,}"


def norm_text_sql(x: str) -> str:
    """strip → lower → puncs→' ' → collapse-ws → strip, over the SQL
    expression ``x``."""
    c = f"regexp_replace({x}, {sql_str(_UNI_TRIM)}, '')"
    c = f"regexp_replace(lower({c}), {sql_str(PUNCS)}, ' ')"
    c = f"regexp_replace({c}, {sql_str(_UNI_WS2)}, ' ')"
    return f"regexp_replace({c}, {sql_str(_UNI_TRIM)}, '')"


def _filtered_tokens_sql(norm: str, min_len: int, *stoplists: list[str]) -> str:
    drop = ", ".join(sql_str(w) for w in sorted({w for sl in stoplists for w in sl}))
    # array filter with an IN literal set stays inside codegen; NOT
    # array_except (that would also dedupe, breaking the title-list contract)
    return (
        f"filter(filter(split({norm}, ' '), tok -> length(tok) > {min_len}), "
        f"tok -> NOT (tok IN ({drop})))"
    )


def title_tokens_sql(norm_title: str) -> str:
    """Title tokens: len>1, −STOPWORDS −STOPWORDS_CHECK, duplicates kept."""
    return _filtered_tokens_sql(norm_title, 1, STOPWORDS, STOPWORDS_CHECK)


def org_tokens_sql(norm_org: str) -> str:
    """Org tokens: len>1, −STOPWORDS −STOPWORDS_EXTEND, then per-row dedupe
    (``array_distinct`` ≡ the reference's ``set()`` at data_process.py:184;
    order differences are immaterial because all consumers are set-ops)."""
    return f"array_distinct({_filtered_tokens_sql(norm_org, 1, STOPWORDS, STOPWORDS_EXTEND)})"


def venue_tokens_sql(norm_venue: str) -> str:
    """Venue tokens: len>1, −all three stoplists; empty → ['null']
    (data_process.py:201-202)."""
    toks = _filtered_tokens_sql(
        norm_venue, 1, STOPWORDS, STOPWORDS_EXTEND, STOPWORDS_CHECK
    )
    return f"CASE WHEN size({toks}) = 0 THEN array('null') ELSE {toks} END"


def corpus_tokens_sql(norm_text: str) -> str:
    """Embedding-corpus tokens: len>2, −all three stoplists
    (semantic_features.py:117-121)."""
    return _filtered_tokens_sql(
        norm_text, 2, STOPWORDS, STOPWORDS_EXTEND, STOPWORDS_CHECK
    )


def norm_text_col(col: Column | str) -> Column:
    return F.expr(norm_text_sql(sql_text(col)))


def title_tokens_col(norm_title: Column | str) -> Column:
    return F.expr(title_tokens_sql(sql_text(norm_title)))


def org_tokens_col(norm_org: Column | str) -> Column:
    return F.expr(org_tokens_sql(sql_text(norm_org)))


def venue_tokens_col(norm_venue: Column | str) -> Column:
    return F.expr(venue_tokens_sql(sql_text(norm_venue)))


def corpus_tokens_col(norm_text: Column | str) -> Column:
    return F.expr(corpus_tokens_sql(sql_text(norm_text)))


def year_sanitize_col(year: Column) -> Column:
    """'' → 0; outside [1500, 2023] → 0 (data_process.py:330-337).
    try_cast, not cast: under Spark 4 ANSI mode (ON in this repo) a
    plain cast on '' / 'n/a' — the exact junk the reference sanitizes —
    would throw CAST_INVALID_INPUT instead of mapping to 0."""
    y = year.try_cast("int")
    return F.when(y.isNull() | (y < 1500) | (y > 2023), F.lit(0)).otherwise(y)


# ---------------------------------------------------------------------------
# Reference-exact Python chain (golden oracle + contract UDF)
# ---------------------------------------------------------------------------

_REF_PUNCS_RE = re.compile(PUNCS_REFERENCE_PY)
_REF_WS_RE = re.compile(r"\s{2,}")
_TAG_RE = re.compile(r"<[^>]+>")
_TITLE_RE = re.compile(r"<title>(.*?)</title>", re.DOTALL | re.IGNORECASE)


def ref_norm_text(s: str) -> str:
    """The reference normalization chain, byte-for-byte
    (data_process.py:249-254 and every other call site)."""
    if s is None:
        return ""
    p = s.strip()
    p = p.lower()
    p = _REF_PUNCS_RE.sub(" ", p)
    p = _REF_WS_RE.sub(" ", p).strip()
    return p


def ref_extract_text(html: bytes) -> str:
    """html → extracted text, the per-url byte-identical contract.

    Deterministic extractor over the fixture template
    (<title>..</title> + body): title first, then tag-stripped body, joined
    with a single space, then the reference normalization chain. This
    function IS the contract; the Spark path must reproduce it exactly.
    """
    if html is None:
        return ""
    raw = html.decode("utf-8", errors="replace")
    m = _TITLE_RE.search(raw)
    title = m.group(1) if m else ""
    body = _TITLE_RE.sub(" ", raw)
    body = _TAG_RE.sub(" ", body)
    return ref_norm_text(title + " " + body)


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched wrapper of ``ref_extract_text`` (no per-row Python at
    the API surface; the loop is over one Arrow batch, like the reference's
    numpy batch loops in model.py:218-227)."""
    return html.map(ref_extract_text)


@pandas_udf(StringType())
def norm_text_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched ``ref_norm_text`` — the byte-exact fallback for fields
    where Java/Python regex semantics could diverge (exotic whitespace)."""
    return s.map(ref_norm_text)

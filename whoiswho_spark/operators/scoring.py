"""Pairwise scoring stage — WhoIsWho-style similarity features per
candidate pair, computed columnar.

The reference scores a pair as a weighted sum of field similarities
(/root/reference/whoiswho/training/AutoTrainSND.py:141-160):
    score = w_author·|coauthors∩| + w_venue·tanimoto(venue)
          + w_org·tanimoto(org)  + w_title·|title words∩|
with weights 1.5/1.0/1.0/0.33 (AutoTrainSND.py:50-52) and attach
threshold 1.5. Retargeted to web pages (SURVEY.md §7.0):

    coauthor-count  → SBERT-style embedding dot product   (×W_AUTHOR)
    org tanimoto    → body-token tanimoto                 (×W_ORG)
    venue tanimoto  → char-3gram cosine of titles         (×W_VENUE)
    title-word count→ common title tokens (capped)        (×W_TITLE)

Everything except the 3-gram cosine and Jaro-Winkler is a Catalyst expr;
those two are Arrow-batched pandas UDFs. Feature columns are kept
alongside the blended score (the pairs checkpoint table is the training
surface for any later learned scorer, mirroring the reference's
hand+semantic feature stack, ClassficationModels.py:138-148).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoiswho_spark.constants import W_AUTHOR, W_ORG, W_TITLE, W_VENUE
from whoiswho_spark.functions.sqltext import sql_lit
from whoiswho_spark.functions.similarity import (
    dot_col,
    intersect_count_col,
    jaro_winkler_udf,
    ngram_cosine_udf,
    tanimoto_col,
)


# page-profile memo capacity for the fused scoring UDF (entries ≈ 10 KB
# each; bounded so multi-worker LLC/bandwidth pressure stays flat).
# Module-level so tests can stress the clear-and-refill path.
MEMO_CAP = 2048


def _score_expr() -> "F.Column":
    return F.expr(
        f"{sql_lit(W_AUTHOR)} * f_emb_dot"
        f" + {sql_lit(W_ORG)} * f_text_tanimoto"
        f" + {sql_lit(W_VENUE)} * f_title_cos3"
        f" + {sql_lit(W_TITLE)} * least(f_title_common, 3.0D)"
    )


def _all_features_udf(shared_ids: bool = True):
    """ONE Arrow-batched pandas UDF computing the full feature struct.

    The north-star contract ("similarity features entirely in vectorized
    pandas/Arrow UDFs over candidate-pair batches") and the fast path:
    a single Arrow transfer per batch, numpy for the embedding dot,
    Python set ops for token overlap. Crucially this takes the
    array-heavy math OUT of the JVM: Catalyst's zip_with/aggregate HOF
    exprs don't participate in whole-stage codegen and allocate per
    element, making the scoring stage GC-bound (measured: it stops
    scaling past ~8 local cores); the Arrow path runs in isolated Python
    workers with flat buffers.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from whoiswho_spark.functions.similarity import _char_ngrams

    def all_features(
        url_a,
        url_b,
        title_a,
        title_b,
        title_toks_a,
        title_toks_b,
        text_toks_a,
        text_toks_b,
        emb_a,
        emb_b,
    ):
        n = len(title_a)

        def to_mat(s):
            # ragged-safe: rows that are null or off-dimension (e.g. the
            # pipeline's placeholder for pages without embeddings) become
            # zero rows → dot 0.0 (the pair survives on its text features
            # instead of dropping with a null score)
            lens = {len(v) for v in s if v is not None}
            d = max(lens) if lens else 1
            return np.asarray(
                [
                    np.asarray(v, dtype=np.float64)
                    if v is not None and len(v) == d
                    else np.zeros(d)
                    for v in s
                ]
            )

        ma, mb = to_mat(emb_a), to_mat(emb_b)
        if ma.shape[1] != mb.shape[1]:
            d = max(ma.shape[1], mb.shape[1])
            ma = np.pad(ma, ((0, 0), (0, d - ma.shape[1])))
            mb = np.pad(mb, ((0, 0), (0, d - mb.shape[1])))
        dots = (ma * mb).sum(axis=1) if n else np.zeros(0)

        tan = np.zeros(n)
        common = np.zeros(n)
        cos3 = np.zeros(n)

        # Per-batch page-profile memo keyed by url: a page appears in
        # MANY pairs of a batch (score_pairs sorts within partitions by
        # the id column to cluster them), so the token sets and the
        # 3-gram count profile are built once per page, not once per
        # pair — measured 2× on the Python features. All per-pair
        # arithmetic below is on INTEGER counts, so results are
        # bit-identical to the per-pair form regardless of dict
        # iteration order. The memo is CAPACITY-BOUNDED (cleared at
        # _MEMO_CAP entries ≈ tens of MB): an unbounded batch-sized memo
        # holds ~10 KB per page and measurably degrades multi-worker
        # scaling via LLC/bandwidth pressure; sorted input keeps the hit
        # rate high even with a small cap because entries are consumed
        # in contiguous runs.
        # shared_ids=False namespaces the memo per pair side: when the
        # two sides come from DIFFERENT payload tables (RND: url_new vs
        # url_prof), an id present in both must not return the other
        # side's profile. The self-join case keeps the shared key (both
        # sides carry the identical payload for a given id — sharing is
        # the point).
        memo: dict = {}
        cap = MEMO_CAP

        def profile(u, title, ttoks, xtoks, side):
            if not shared_ids:
                u = (side, u)
            r = memo.get(u)
            if r is None:
                c: dict = {}
                for g in _char_ngrams(title or ""):
                    c[g] = c.get(g, 0) + 1
                nrm = np.sqrt(sum(v * v for v in c.values()))
                r = (set(xtoks), set(ttoks), c, nrm)
                if len(memo) >= cap:
                    memo.clear()
                memo[u] = r
            return r

        for i in range(n):
            xa, ta, ca, na = profile(
                url_a.iat[i], title_a.iat[i], title_toks_a.iat[i],
                text_toks_a.iat[i], "a",
            )
            xb, tb, cb, nb = profile(
                url_b.iat[i], title_b.iat[i], title_toks_b.iat[i],
                text_toks_b.iat[i], "b",
            )
            inter = len(xa & xb)
            u = len(xa) + len(xb) - inter
            tan[i] = inter / u if u else 0.0
            common[i] = float(len(ta & tb))
            if na and nb:
                if len(ca) > len(cb):
                    dot = sum(v * ca.get(k, 0) for k, v in cb.items())
                else:
                    dot = sum(v * cb.get(k, 0) for k, v in ca.items())
                cos3[i] = dot / (na * nb)
        return pd.DataFrame(
            {
                "f_emb_dot": dots,
                "f_text_tanimoto": tan,
                "f_title_cos3": cos3,
                "f_title_common": common,
            }
        )

    # postponed-annotation strings break infer_eval_type for the
    # Series→DataFrame (struct) pattern; set real annotations explicitly
    all_features.__annotations__ = {
        **{k: pd.Series for k in (
            "url_a", "url_b",
            "title_a", "title_b", "title_toks_a", "title_toks_b",
            "text_toks_a", "text_toks_b", "emb_a", "emb_b",
        )},
        "return": pd.DataFrame,
    }
    return pandas_udf(
        all_features,
        "f_emb_dot double, f_text_tanimoto double, "
        "f_title_cos3 double, f_title_common double",
    )


def score_pairs(
    pairs: DataFrame,
    with_jaro: bool = False,
    engine: str = "arrow",
    id_a: str = "url_a",
    id_b: str = "url_b",
    cluster_batches: bool = True,
    memo_shared_ids: bool = True,
) -> DataFrame:
    """pairs with id columns (``id_a``/``id_b``) and payload columns
    (title_X, title_tokens_X, text_tokens_X, embedding_X for X in
    {a, b}) → + feature columns + ``score``.

    engine='arrow' (default): one fused pandas UDF for all features,
    with a per-batch page-profile memo keyed by the id columns. The
    input is sorted WITHIN partitions by ``id_a`` first
    (``cluster_batches``): a narrow, shuffle-free, spill-safe sort that
    clusters each page's pairs into the same Arrow batches — without it
    a salted/scattered pair layout gives the memo ~1 hit per page and
    the memo is pure overhead (measured: 47 s scattered vs 31 s sorted
    vs 41 s for the unmemoized per-pair form on the 2.6M-pair scaling
    payload at local[8]).
    engine='catalyst': pure-expression variant (equivalence-tested);
    useful when Python workers are unavailable.
    """
    if engine == "arrow":
        if cluster_batches:
            pairs = pairs.sortWithinPartitions(id_a)
        feats = _all_features_udf(shared_ids=memo_shared_ids)(
            F.col(id_a),
            F.col(id_b),
            F.col("title_a"),
            F.col("title_b"),
            F.col("title_tokens_a"),
            F.col("title_tokens_b"),
            F.col("text_tokens_a"),
            F.col("text_tokens_b"),
            F.col("embedding_a"),
            F.col("embedding_b"),
        )
        out = pairs.withColumn("_f", feats).select("*", "_f.*").drop("_f")
    else:
        out = (
            pairs.withColumn(
                "f_emb_dot", dot_col(F.col("embedding_a"), F.col("embedding_b"))
            )
            .withColumn(
                "f_text_tanimoto",
                tanimoto_col(F.col("text_tokens_a"), F.col("text_tokens_b")),
            )
            .withColumn(
                "f_title_cos3", ngram_cosine_udf(F.col("title_a"), F.col("title_b"))
            )
            .withColumn(
                "f_title_common",
                intersect_count_col(
                    F.col("title_tokens_a"), F.col("title_tokens_b")
                ),
            )
        )
    if with_jaro:
        out = out.withColumn(
            "f_title_jw", jaro_winkler_udf(F.col("title_a"), F.col("title_b"))
        )
    return out.withColumn("score", _score_expr())


PAIR_PAYLOAD_COLS = [
    "url",
    "title",
    "title_tokens",
    "text_tokens",
    "embedding",
]


# ---------------------------------------------------------------------------
# Learned calibrated scorer (the GBDT-ensemble *scoring semantics* of
# ClassficationModels.py:41-331 — a calibrated pair probability in [0,1] —
# re-expressed as a tiny deterministic logistic model: sample labeled
# pairs → fit on the driver (numpy, seeded full-batch gradient descent) →
# broadcast weights → score as a pure Catalyst expression. No sklearn
# dependency; swap in any GBDT via the same predict-as-expression hook.)
# ---------------------------------------------------------------------------

FEATURE_COLS = ["f_emb_dot", "f_text_tanimoto", "f_title_cos3", "f_title_common"]


def fit_logistic_scorer(
    labeled_pairs: DataFrame,
    label_col: str = "label",
    feature_cols: list[str] | None = None,
    max_rows: int = 100_000,
    iters: int = 300,
    lr: float = 0.5,
) -> dict:
    """Fit w, b on a bounded sample of labeled pairs (driver-side numpy —
    the model is tiny; the TRAINING DATA sample is capped, mirroring the
    reference's debug-mode truncation and per-author caps)."""
    import numpy as np

    feature_cols = feature_cols or FEATURE_COLS
    rows = (
        labeled_pairs.select(*feature_cols, label_col)
        .limit(max_rows)
        .collect()
    )
    X = np.asarray([[r[c] for c in feature_cols] for r in rows], dtype=np.float64)
    y = np.asarray([float(r[label_col]) for r in rows])
    mu, sd = X.mean(0), np.maximum(X.std(0), 1e-9)
    Xn = (X - mu) / sd
    w = np.zeros(X.shape[1])
    b = 0.0
    for _ in range(iters):
        z = Xn @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (Xn.T @ g) / len(y)
        b -= lr * g.mean()
    return {
        "w": w.tolist(),
        "b": float(b),
        "mu": mu.tolist(),
        "sd": sd.tolist(),
        "features": feature_cols,
    }


def logistic_score_col(model: dict):
    """Broadcastable predict: sigmoid(w·(x−mu)/sd + b) as one Catalyst
    expression over the feature columns — JVM-side, codegen'd."""
    z = F.lit(model["b"])
    for w, m, s, c in zip(model["w"], model["mu"], model["sd"], model["features"]):
        z = z + F.lit(w) * ((F.col(c) - F.lit(m)) / F.lit(s))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

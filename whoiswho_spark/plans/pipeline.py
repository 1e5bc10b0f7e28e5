"""End-to-end entity-resolution pipeline.

The Spark re-expression of ``demo.py --task SND`` (/root/reference/
demo.py:71-82; stage trace in SURVEY.md §3.1): five checkpointed
DataFrame jobs —

    extract  → normalize + tokenize pages (Catalyst exprs + the
               byte-identical extract_text pandas UDF)
    blocks   → host + MinHash/LSH block keys (blocking.py)
    pairs    → within-block self-join + feature scoring (pairs.py,
               scoring.py); salted replicate-join when skew demands
    edges    → score ≥ τ threshold (clustering.threshold_edges)
    clusters → large-star/small-star connected components

Each stage writes its table + lineage counters via plans.metrics.stage;
a restarted run skips completed stages (the resume contract).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whoiswho_spark.constants import POST_MATCH_THRESHOLD
from whoiswho_spark.functions.normalize import (
    corpus_tokens_sql,
    extract_text_udf,
    norm_text_sql,
    title_tokens_sql,
)
from whoiswho_spark.functions.sqltext import sql_str
from whoiswho_spark.operators.blocking import (
    cap_block_size,
    lsh_block_keys,
    normalized_host_sql,
)
from whoiswho_spark.operators.clustering import connected_components, threshold_edges
from whoiswho_spark.operators.evaluation import labeled_block_view, macro_pairwise_f1
from whoiswho_spark.operators.pairs import candidate_pairs, salted_candidate_pairs
from whoiswho_spark.operators.scoring import score_pairs
from whoiswho_spark.plans import metrics as M


_TITLE_RE = r"(?is)<title>(.*?)</title>"

# With at most this many pages (the extract stage's write count) the
# pairs stage broadcasts the page payload to both of its url joins;
# larger or resumed runs leave the join choice to AQE (see _run_stages).
# 450 pages broadcast as about 4 MB, so 2000 pages stay well under AQE's
# 64 MB runtime threshold.
BROADCAST_PAYLOAD_PAGES = 2000


@dataclass
class ERConfig:
    num_hashes: int = 8
    bands: int = 4
    block_cap: int = 5000
    n_salts: int = 0  # 0 = plain self-join (AQE handles mid skew)
    threshold: float = POST_MATCH_THRESHOLD
    resume: bool = True
    # 'cc'        → threshold graph + large-star/small-star (default, scales)
    # 'dbscan'    → per-block DBSCAN + post_match (reference-parity path,
    #               AutoTrainSND.py:245-249; blocks must fit in a task)
    # 'consensus' → co-association majority vote over the repo's own
    #               clusterings: cc at a threshold grid (± consensus_spread
    #               around cfg.threshold) plus the dbscan partition — the
    #               BOND ESBTrainer ensemble (autotrain_bond_ensemble.py:
    #               240-261) fed by relational engines instead of GNN
    #               repeats (operators/consensus.py). NOTE a cc-only grid
    #               is threshold-MONOTONE (same-cluster at τ ⊆ same-cluster
    #               at τ−δ), so its majority is exactly the median run;
    #               including dbscan is what makes the vote informative.
    cluster_method: str = "cc"
    dbscan_eps: float = 0.2
    dbscan_min_samples: int = 4
    consensus_spread: float = 0.1
    consensus_include_dbscan: bool = True
    consensus_min_agree: float = 0.5
    # relational channel (dbscan path only): blend walk-embedding
    # distances with the semantic ones, (rel + w·sem)/(1+w) — the
    # reference's add_rel mode (AutoTrainSND.py:239-243)
    use_relational: bool = False
    relational_repeats: int = 2
    text_weight: float = 1.0
    # propagation channel (dbscan/consensus paths): smooth embeddings
    # over the thresholded scored-pair graph before DBSCAN — the
    # torch-free analog of BOND's GAE feature smoothing
    # (autotrain_bond.py:164-228; operators/propagation.py)
    use_propagation: bool = False
    propagation_iterations: int = 2
    propagation_beta: float = 0.5
    # inert compatibility field, read only by erbench's traced run (as
    # the layout argument of the metrics.stage_bucketed shim) until a
    # benchmark change drops it; stage checkpoints are plain parquet
    bucket_stages: int = 16


def extract_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → payload table.

    Title comes from the html via a Catalyst regexp (JVM); the contract
    ``text`` column is re-derived from html with the reference-exact
    pandas UDF — at scale you'd trust the stored column and sample-audit,
    here we recompute to prove byte-identity end-to-end.
    """
    title = f"regexp_extract(CAST(html AS STRING), {sql_str(_TITLE_RE)}, 1)"
    norm_title = norm_text_sql("title_raw")
    return pages.select(
        "url",
        F.expr(f"{title} AS title_raw"),
        extract_text_udf(F.col("html")).alias("text"),
    ).selectExpr(
        "url",
        "title_raw",
        f"{norm_title} AS title",
        "text",
        f"{title_tokens_sql(norm_title)} AS title_tokens",
        f"{corpus_tokens_sql('text')} AS text_tokens",
        f"{normalized_host_sql('url')} AS host",
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    embeddings: DataFrame | None,
    workdir: str,
    cfg: ERConfig = ERConfig(),
    run_id: str | None = None,
) -> DataFrame:
    """Run all stages; returns clusters(url, cluster_id).

    ``embeddings`` (url, embedding ARRAY) is the precomputed SBERT-style
    table (the north-star input). Pass ``None`` to derive embeddings from
    the corpus itself with Word2Vec mean-pooling — the reference's own
    semantic-feature chain (semantic_features.py:32-135) as a
    checkpointed stage.
    """
    run_id = run_id or M.new_run_id()
    lineage: list[tuple] = []
    try:
        return _run_stages(spark, pages, embeddings, workdir, cfg, run_id, lineage)
    finally:
        # one metrics append per run; a kill before it is the crash
        # window that stage() backfills on resume
        M.flush_lineage(spark, workdir, lineage)


def _run_stages(
    spark: SparkSession,
    pages: DataFrame,
    embeddings: DataFrame | None,
    workdir: str,
    cfg: ERConfig,
    run_id: str,
    lineage: list[tuple],
) -> DataFrame:
    def _stage(name, compute):
        return M.stage(spark, workdir, run_id, name, compute, cfg.resume, lineage)

    payload = _stage("extract", lambda: extract_stage(pages))

    if embeddings is None:

        def _w2v_embeddings():
            from whoiswho_spark.operators.embeddings import (
                doc_embeddings,
                train_word2vec,
            )

            corpus = payload.select("url", F.col("text_tokens").alias("tokens"))
            model = train_word2vec(corpus, min_count=2)
            return doc_embeddings(
                model=model, docs=corpus, id_col="url", tokens_col="tokens"
            ).select("url", "embedding")

        embeddings = _stage("embeddings", _w2v_embeddings)

    n_pages = M.stage_rows(lineage, "extract")

    def _blocks():
        b = lsh_block_keys(
            payload.select("url", "title", "host"),
            title="title",
            num_hashes=cfg.num_hashes,
            bands=cfg.bands,
        )
        # a block holds at most one row per page (the band index is part
        # of its key), so with no more pages than the cap no block can
        # exceed it: skip the cap's window and its shuffle
        if n_pages is not None and n_pages <= cfg.block_cap:
            return b
        return cap_block_size(b, cfg.block_cap)

    blocks = _stage("blocks", _blocks)

    def _pairs():
        pay = payload.select("url", "title", "title_tokens", "text_tokens").join(
            embeddings.select("url", "embedding"), "url", "left"
        ).withColumn("embedding", F.expr("coalesce(embedding, array(0.0D))"))
        # Both payload joins start as sort-merge joins (static size
        # estimates are past the 1 MB static threshold), and AQE turns
        # each into a broadcast join on whichever side's shuffle finishes
        # first. Run to run that race broadcasts either the payload or
        # the pairs, so the plan, its job count and its generated code
        # change between identical runs. A small payload is broadcast
        # outright: one fixed plan, in which the pairs stream in their
        # aggregate's (url_a, url_b) order, so scoring needs no sort.
        if n_pages is not None and n_pages <= BROADCAST_PAYLOAD_PAGES:
            pay = F.broadcast(pay)
        if cfg.n_salts > 1:
            p = salted_candidate_pairs(blocks, cfg.n_salts, payload=pay)
        else:
            p = candidate_pairs(blocks, payload=pay)
        return score_pairs(p).select(
            "block_key",
            "url_a",
            "url_b",
            "f_emb_dot",
            "f_text_tanimoto",
            "f_title_cos3",
            "f_title_common",
            "score",
        )

    pairs = _stage("pairs", _pairs)

    edges = _stage("edges", lambda: threshold_edges(pairs, cfg.threshold))

    if cfg.cluster_method in ("dbscan", "consensus"):

        def _dbscan_clusters():
            from whoiswho_spark.operators.clustering import post_match
            from whoiswho_spark.operators.clustering_dbscan import (
                cluster_blocks_dbscan,
            )

            if cfg.use_relational:
                from whoiswho_spark.operators.relational import (
                    blend_pair_distances,
                    cluster_blocks_dbscan_pairs,
                    relational_pair_distances,
                )

                # token bipartite graph for the walks: url ↔ title token
                # (the webtext analog of paper↔author/org relations)
                token_edges = payload.select(
                    F.col("url").alias("pid"),
                    F.explode("title_tokens").alias("token"),
                ).distinct()
                pair_keys = pairs.select("url_a", "url_b").distinct()
                rel = relational_pair_distances(
                    token_edges,
                    pair_keys,
                    repeat_num=cfg.relational_repeats,
                    starts=payload.select(F.col("url").alias("pid")),
                )
                # semantic channel: a TRUE cosine distance over the pair
                # embeddings (reference blends cosine matrices,
                # relational_features.py:144-173). f_emb_dot is a raw dot
                # product — equal to cosine only for unit-norm vectors,
                # and the in-pipeline w2v fallback produces UN-normalized
                # mean-pooled vectors, so reusing it here would corrupt
                # every distance on that path.
                from whoiswho_spark.operators.ann import cosine_batch_udf

                sem = (
                    pair_keys.join(
                        embeddings.select(
                            F.col("url").alias("url_a"),
                            F.col("embedding").alias("_ea"),
                        ),
                        "url_a",
                    )
                    .join(
                        embeddings.select(
                            F.col("url").alias("url_b"),
                            F.col("embedding").alias("_eb"),
                        ),
                        "url_b",
                    )
                    .select(
                        "url_a",
                        "url_b",
                        (
                            F.lit(1.0)
                            - cosine_batch_udf(F.col("_ea"), F.col("_eb"))
                        ).alias("sem_dist"),
                    )
                )
                blended = blend_pair_distances(rel, sem, cfg.text_weight)
                block_pairs = pairs.select("block_key", "url_a", "url_b").join(
                    blended, ["url_a", "url_b"]
                )
                labels = cluster_blocks_dbscan_pairs(
                    blocks,
                    block_pairs,
                    eps=cfg.dbscan_eps,
                    min_samples=cfg.dbscan_min_samples,
                )
            else:
                embs = embeddings.select("url", "embedding")
                if cfg.use_propagation:
                    from whoiswho_spark.operators.propagation import (
                        propagate_embeddings,
                    )

                    # smooth along the ≥threshold scored pairs — the GAE
                    # mechanism: semantic features contracted over the
                    # high-similarity graph before DBSCAN
                    embs = propagate_embeddings(
                        embs,
                        pairs.where(F.col("score") >= cfg.threshold).select(
                            "url_a", "url_b", "score"
                        ),
                        iterations=cfg.propagation_iterations,
                        beta=cfg.propagation_beta,
                    )
                bp = blocks.join(embs, "url")
                labels = cluster_blocks_dbscan(
                    bp, eps=cfg.dbscan_eps, min_samples=cfg.dbscan_min_samples
                )
            # A url sits in several LSH-band blocks and gets an independent
            # DBSCAN label in each (the reference has exactly one name block
            # per paper, so it never faces this). Per-block co-membership is
            # therefore treated as an EDGE relation and unified globally
            # with connected components — the order-free transitive merge.
            grp = (
                labels.where(F.col("label") >= 0)
                .groupBy("block_key", "label")
                .agg(F.min("url").alias("root"))
            )
            cc_edges = (
                labels.where(F.col("label") >= 0)
                .join(grp, ["block_key", "label"])
                .where(F.col("url") != F.col("root"))
                .select(F.col("url").alias("src"), F.col("root").alias("dst"))
            )
            clusters0 = connected_components(
                cc_edges, vertices=payload.select("url")
            )
            # urls that are -1 in every block are the post_match outlier set
            outliers = (
                labels.groupBy("url")
                .agg(F.max("label").alias("mx"))
                .where(F.col("mx") < 0)
                .select("url")
            )
            return post_match(clusters0, pairs, outliers, cfg.threshold)

        if cfg.cluster_method == "dbscan":
            return _stage("clusters", _dbscan_clusters)

        def _consensus_clusters():
            from whoiswho_spark.operators.consensus import consensus_clusters

            lo = max(0.05, cfg.threshold - cfg.consensus_spread)
            hi = min(0.95, cfg.threshold + cfg.consensus_spread)
            runs = []
            for i, th in enumerate((lo, cfg.threshold, hi)):
                cc = connected_components(
                    threshold_edges(pairs, th),
                    vertices=payload.select("url"),
                    # per-threshold dirs: the checkpoint is keyed by the
                    # input-edge checksum, so sharing one dir across the
                    # grid would thrash it every run
                    checkpoint_dir=f"{workdir}/cc_checkpoints_th{i}",
                    resume=cfg.resume,
                )
                runs.append(
                    cc.select(F.lit(f"th{i}").alias("run_id"), "url", "cluster_id")
                )
            if cfg.consensus_include_dbscan:
                runs.append(
                    _dbscan_clusters().select(
                        F.lit("dbscan").alias("run_id"), "url", "cluster_id"
                    )
                )
            stacked = runs[0]
            for r in runs[1:]:
                stacked = stacked.unionByName(r)
            return consensus_clusters(stacked, min_agree=cfg.consensus_min_agree)

        return _stage("clusters", _consensus_clusters)

    return _stage(
        "clusters",
        lambda: connected_components(
            edges,
            vertices=payload.select("url"),
            # per-iteration parquet checkpoints → mid-stage resume of the
            # CC loop itself (north rule), not just stage-level skip;
            # keyed by input checksum inside connected_components so a
            # changed edge set never reuses stale iterations
            checkpoint_dir=f"{workdir}/cc_checkpoints",
            resume=cfg.resume,
            input_count=M.stage_rows(lineage, "edges"),
        ),
    )


def evaluate_run(
    spark: SparkSession, workdir: str, labels: DataFrame
) -> float:
    """Macro pairwise F1 of a completed run against ground-truth labels,
    restricted to labeled pairs sharing a blocking key (the gate)."""
    blocks = spark.read.parquet(f"{workdir}/blocks")
    clusters = spark.read.parquet(f"{workdir}/clusters")
    return macro_pairwise_f1(labeled_block_view(blocks, labels, clusters))

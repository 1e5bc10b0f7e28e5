"""End-to-end gates: pairwise F1 ≥ 0.99, determinism, resume (SURVEY.md §5.2)."""

import os
import shutil

import pyspark.sql.functions as F

from whoiswho_spark.operators.evaluation import macro_pairwise_f1, labeled_block_view
from whoiswho_spark.plans.pipeline import ERConfig, evaluate_run, run_pipeline


def _split(corpus):
    pages = corpus.select("url", "warc_ts", "html", "text", "lang")
    embs = corpus.select("url", "embedding")
    labels = corpus.select("url", "entity_id")
    return pages, embs, labels


def test_f1_gate(spark, corpus, workdir):
    """THE gate: macro pairwise F1 ≥ 0.99 on labeled pairs sharing a
    blocking key (BASELINE.json metric)."""
    wd = f"{workdir}/gate"
    pages, embs, labels = _split(corpus)
    run_pipeline(spark, pages, embs, wd)
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"pairwise F1 {f1} < 0.99"


def test_salted_pipeline_identical_clusters(spark, corpus, workdir):
    """Salting is a physical choice — logical result must be unchanged."""
    wd1, wd2 = f"{workdir}/gate", f"{workdir}/salted"
    pages, embs, labels = _split(corpus)
    run_pipeline(spark, pages, embs, wd1)  # resume: already built by gate test
    run_pipeline(spark, pages, embs, wd2, ERConfig(n_salts=8))
    c1 = spark.read.parquet(f"{wd1}/clusters")
    c2 = spark.read.parquet(f"{wd2}/clusters")
    assert c1.exceptAll(c2).count() == 0 and c2.exceptAll(c1).count() == 0


def test_determinism(spark, corpus, workdir):
    """Two independent runs produce identical cluster tables."""
    wd1, wd2 = f"{workdir}/det1", f"{workdir}/det2"
    pages, embs, _ = _split(corpus)
    run_pipeline(spark, pages, embs, wd1)
    run_pipeline(spark, pages, embs, wd2)
    c1 = spark.read.parquet(f"{wd1}/clusters")
    c2 = spark.read.parquet(f"{wd2}/clusters")
    assert c1.exceptAll(c2).count() == 0 and c2.exceptAll(c1).count() == 0


def test_resume_skips_completed_and_recovers(spark, corpus, workdir):
    """Kill-after-pairs simulation: wipe the late stages, resume, get the
    identical final clusters; completed stages are NOT recomputed."""
    wd = f"{workdir}/resume"
    pages, embs, labels = _split(corpus)
    run_pipeline(spark, pages, embs, wd)
    clusters_before = sorted(
        (r["url"], r["cluster_id"])
        for r in spark.read.parquet(f"{wd}/clusters").collect()
    )

    # simulate failure mid-pipeline: edges+clusters lost, pairs survive
    shutil.rmtree(f"{wd}/edges")
    shutil.rmtree(f"{wd}/clusters")
    pairs_mtime = os.path.getmtime(f"{wd}/pairs/_SUCCESS")

    run_pipeline(spark, pages, embs, wd)
    clusters_after = sorted(
        (r["url"], r["cluster_id"])
        for r in spark.read.parquet(f"{wd}/clusters").collect()
    )
    assert clusters_before == clusters_after
    # completed stage untouched (skip-if-complete)
    assert os.path.getmtime(f"{wd}/pairs/_SUCCESS") == pairs_mtime


def test_dbscan_parity_path_f1_gate(spark, corpus, workdir):
    """The reference-parity clustering path (per-block DBSCAN + CC merge
    of co-membership + post_match) must also clear the F1 gate."""
    from whoiswho_spark.plans.pipeline import ERConfig

    wd = f"{workdir}/dbscan"
    pages, embs, labels = _split(corpus)
    run_pipeline(spark, pages, embs, wd, ERConfig(cluster_method="dbscan"))
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"DBSCAN-path pairwise F1 {f1} < 0.99"


def test_consensus_path_f1_gate(spark, corpus, workdir):
    """The ensemble clustering path (cc threshold grid + dbscan,
    co-association majority vote — the BOND ESBTrainer mechanism) must
    also clear the F1 gate, and its partition must differ from NONE of
    the correctness contracts: every url labeled exactly once."""
    from whoiswho_spark.plans.pipeline import ERConfig

    wd = f"{workdir}/consensus"
    pages, embs, labels = _split(corpus)
    clusters = run_pipeline(
        spark, pages, embs, wd, ERConfig(cluster_method="consensus")
    )
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"consensus-path pairwise F1 {f1} < 0.99"
    n_pages = pages.select("url").distinct().count()
    assert clusters.select("url").distinct().count() == n_pages
    assert clusters.count() == n_pages


def test_logistic_scorer_separates(spark, corpus, workdir):
    """The learned calibrated scorer (GBDT-scoring-semantics stand-in)
    separates true from false pairs on the pipeline's own features."""
    import pyspark.sql.functions as F

    from whoiswho_spark.operators.scoring import (
        fit_logistic_scorer,
        logistic_score_col,
    )

    wd = f"{workdir}/gate"  # built by test_f1_gate
    pairs = spark.read.parquet(f"{wd}/pairs")
    labels = corpus.select("url", "entity_id")
    labeled = (
        pairs.join(
            labels.withColumnRenamed("url", "url_a").withColumnRenamed(
                "entity_id", "e_a"
            ),
            "url_a",
        )
        .join(
            labels.withColumnRenamed("url", "url_b").withColumnRenamed(
                "entity_id", "e_b"
            ),
            "url_b",
        )
        .withColumn("label", (F.col("e_a") == F.col("e_b")).cast("int"))
    )
    model = fit_logistic_scorer(labeled)
    scored = labeled.withColumn("p", logistic_score_col(model))
    row = scored.groupBy("label").agg(F.avg("p").alias("m")).collect()
    means = {r["label"]: r["m"] for r in row}
    assert means[1] > 0.9 and means[0] < 0.1


def test_w2v_derived_embeddings_f1_gate(spark, corpus, workdir):
    """Full reference chain: no precomputed embedding table — embeddings
    derived in-pipeline by Word2Vec mean-pooling (semantic_features.py
    analog); the F1 gate must still clear."""
    wd = f"{workdir}/w2v"
    pages, _, labels = _split(corpus)
    run_pipeline(spark, pages, None, wd)
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"w2v-path pairwise F1 {f1} < 0.99"
    import os

    assert os.path.exists(f"{wd}/embeddings/_SUCCESS")  # its own checkpoint


def test_rnd_assignment(spark, corpus, workdir):
    """RND flow: hold out the v0 variant of every multi-variant entity,
    cluster the rest (already done by the gate run), then assign the
    held-out pages back — accuracy must be high and NILs rare."""
    import pyspark.sql.functions as F

    from whoiswho_spark.plans.pipeline import extract_stage
    from whoiswho_spark.plans.rnd_pipeline import assign_pages

    wd = f"{workdir}/gate"
    pages, embs, labels = _split(corpus)
    payload = extract_stage(pages).join(embs, "url")
    clusters = spark.read.parquet(f"{wd}/clusters")

    held = payload.where(F.col("url").endswith("/v1"))  # only multi-variant entities have v1
    prof = payload.where(~F.col("url").endswith("/v1"))
    prof_clusters = clusters.join(prof.select("url"), "url")

    assigned = assign_pages(held, prof, prof_clusters)
    # truth: the held page's entity == entity of its assigned cluster's members
    truth = labels.withColumnRenamed("entity_id", "e_new")
    member_truth = (
        prof_clusters.join(labels, "url")
        .groupBy("cluster_id")
        .agg(F.first("entity_id").alias("e_cluster"))
    )
    checked = (
        assigned.join(truth, "url").join(member_truth, "cluster_id")
    )
    n_held = held.count()
    n_assigned = assigned.count()
    n_correct = checked.where(F.col("e_new") == F.col("e_cluster")).count()
    assert n_assigned / n_held > 0.9, f"too many NILs: {n_assigned}/{n_held}"
    assert n_correct / n_assigned > 0.98, f"accuracy {n_correct}/{n_assigned}"


def test_metrics_lineage_written(spark, corpus, workdir):
    """Every stage appends per-partition lineage counters."""
    wd = f"{workdir}/gate"  # built above
    m = spark.read.parquet(f"{wd}/metrics")
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"extract", "blocks", "pairs", "edges", "clusters"} <= stages
    assert m.where("rows_out < 0").count() == 0
    assert m.where("partition_id is null").count() == 0


def test_metrics_rows_out_sum_to_stored_rows(spark, workdir):
    """The per-partition counts read from the write tasks add up, for
    every stage of the gate run, to the rows of the stored table."""
    from whoiswho_spark.plans import metrics as M

    wd = f"{workdir}/gate"  # built above
    sums = {
        r["stage"]: r["n"]
        for r in M.read_metrics(spark, wd)
        .groupBy("stage")
        .agg(F.sum("rows_out").alias("n"))
        .collect()
    }
    assert {"extract", "blocks", "pairs", "edges", "clusters"} <= set(sums)
    for stage_name, n in sums.items():
        assert n == spark.read.parquet(f"{wd}/{stage_name}").count(), stage_name


def test_stage_counts_come_from_the_write(spark, tmp_path, monkeypatch):
    """stage() takes per-partition rows from the write tasks: the
    stored-table re-count is never called, and the counts add up."""
    from whoiswho_spark.plans import metrics as M

    def _no_recount(*_a, **_k):
        raise AssertionError("stage() re-counted the stored table")

    monkeypatch.setattr(M, "append_metrics", _no_recount)
    wd = str(tmp_path)
    df = spark.range(0, 1000, 1, 8).groupBy((F.col("id") % 37).alias("k")).count()
    M.stage(spark, wd, "r1", "s", lambda: df)
    rows = M.read_metrics(spark, wd).collect()
    assert sum(r["rows_out"] for r in rows) == 37
    assert len({r["partition_id"] for r in rows}) == len(rows)


def test_stage_empty_output_records_zero_row(spark, workdir):
    """A stage whose output is empty (no edge reaches the threshold)
    still records its lineage: one row with rows_out = 0."""
    from whoiswho_spark.operators.clustering import threshold_edges
    from whoiswho_spark.plans import metrics as M

    pairs = spark.read.parquet(f"{workdir}/gate/pairs")
    wd = f"{workdir}/empty_stage"
    shutil.rmtree(wd, ignore_errors=True)
    out = M.stage(
        spark, wd, "r1", "edges", lambda: threshold_edges(pairs, 1e9), resume=False
    )
    assert out.count() == 0
    rows = M.read_metrics(spark, wd).collect()
    assert [(r["stage"], r["rows_out"]) for r in rows] == [("edges", 0)]


def test_stage_restores_caller_job_group(spark, tmp_path):
    """stage() runs its write under its own job group; the caller's job
    group and description are back in place afterwards."""
    from whoiswho_spark.plans import metrics as M

    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        M.stage(spark, str(tmp_path), "r1", "s", lambda: spark.range(10))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        # the caller's later jobs still land in its group
        before = set(sc.statusTracker().getJobIdsForGroup("caller-group"))
        spark.range(5).collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store is async
        assert set(sc.statusTracker().getJobIdsForGroup("caller-group")) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_eval_restricted_to_shared_block_pairs(spark, corpus, workdir):
    """The metric input only contains labeled urls with their block keys."""
    wd = f"{workdir}/gate"
    blocks = spark.read.parquet(f"{wd}/blocks")
    clusters = spark.read.parquet(f"{wd}/clusters")
    labels = corpus.select("url", "entity_id")
    lbv = labeled_block_view(blocks, labels, clusters)
    assert lbv.where(F.col("block_key").isNull()).count() == 0
    assert macro_pairwise_f1(lbv) >= 0.99


def test_relational_channel_f1_gate(spark, corpus, workdir):
    """The relational channel ON (walk embeddings blended with semantic
    distances, (rel + w·sem)/(1+w), AutoTrainSND.py:239-243) must still
    clear the F1 gate, and rerun identically (seeded walks + w2v)."""
    wd = f"{workdir}/rel"
    pages, embs, labels = _split(corpus)
    cfg = ERConfig(
        cluster_method="dbscan", use_relational=True, relational_repeats=2
    )
    c1 = run_pipeline(spark, pages, embs, wd, cfg)
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"relational-channel pairwise F1 {f1} < 0.99"

    c1_rows = sorted(map(tuple, c1.collect()))
    shutil.rmtree(wd)
    c2 = run_pipeline(spark, pages, embs, wd, cfg)
    assert c1_rows == sorted(map(tuple, c2.collect()))


def test_w2v_plus_relational_channel_f1_gate(spark, corpus, workdir):
    """End-to-end gate for the w2v+relational combination (previously
    untested). Mean-pooled Word2Vec vectors are NOT unit-norm, so the
    semantic channel computes a true cosine distance; the old
    (1 - f_emb_dot) form merely degraded to an uninformative sem≈1 on
    THIS corpus (small w2v norms) but inverts distances outright for
    norms > 1 — the cosine form is range-correct for any norm."""
    wd = f"{workdir}/w2v_rel"
    pages, _, labels = _split(corpus)
    cfg = ERConfig(
        cluster_method="dbscan", use_relational=True, relational_repeats=2
    )
    run_pipeline(spark, pages, None, wd, cfg)
    f1 = evaluate_run(spark, wd, labels)
    assert f1 >= 0.99, f"w2v+relational pairwise F1 {f1} < 0.99"


def test_rnd_fuzzy_fallback_resolves_nickname_titles(spark):
    """pretreat_unass parity: a new page whose LSH keys miss every profile
    still finds its cluster through the 7-matcher battery with the
    tokenize_name (nickname) retry — 'Bill Smith' → 'william smith …'."""
    from whoiswho_spark.plans.rnd_pipeline import assign_pages

    def payload(url, title, toks, emb):
        return (url, title, toks, toks * 2, emb)

    schema = (
        "url string, title string, title_tokens array<string>, "
        "text_tokens array<string>, embedding array<double>"
    )
    profiles = spark.createDataFrame(
        [
            payload("p1", "william smith homepage and research notes",
                    ["william", "smith", "homepage", "research", "notes"], [1.0, 0.0]),
            payload("p2", "jane doe gallery of unrelated things",
                    ["jane", "doe", "gallery", "unrelated", "things"], [0.0, 1.0]),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [payload("n1", "Bill Smith", ["bill", "smith"], [1.0, 0.0])], schema
    )
    clusters = spark.createDataFrame(
        [("p1", "C_SMITH"), ("p2", "C_DOE")], "url string, cluster_id string"
    )

    strict = assign_pages(new, profiles, clusters, threshold=0.1).collect()
    assert strict == []  # LSH keys miss → NIL without the fallback

    fuzzy = assign_pages(
        new, profiles, clusters, threshold=0.1, fuzzy_fallback=True
    ).collect()
    assert len(fuzzy) == 1
    assert fuzzy[0]["url"] == "n1" and fuzzy[0]["cluster_id"] == "C_SMITH"


def test_rnd_fuzzy_fallback_head_token_bounded(spark):
    """A head token shared by every profile ('smith') must NOT form a
    quadratic meet group: with the df bound, pages meet profiles only on
    rare tokens or the exact normalized name. Gates both the pair-count
    bound and that rare-token recall survives."""
    from whoiswho_spark.plans.rnd_pipeline import assign_pages

    def payload(url, title, toks, emb):
        return (url, title, toks, toks * 2, emb)

    schema = (
        "url string, title string, title_tokens array<string>, "
        "text_tokens array<string>, embedding array<double>"
    )
    # 400 'smith' profiles with distinct rare given names (test-scale
    # stand-in for the 10k-smith corpus; the bound is df-based, not
    # size-based, so the mechanism is identical)
    profiles = spark.createDataFrame(
        [
            payload(f"p{i}", f"given{i:03d} smith research page",
                    [f"given{i:03d}", "smith"], [1.0, 0.0])
            for i in range(400)
        ],
        schema,
    )
    clusters = spark.createDataFrame(
        [(f"p{i}", f"C{i}") for i in range(400)], "url string, cluster_id string"
    )
    new = spark.createDataFrame(
        [payload("n1", "given007 smith", ["given007", "smith"], [1.0, 0.0])],
        schema,
    )
    # df('smith') = 400 > max_token_df → 'smith' is not a meet key;
    # 'given007' (df=1) is, so the right profile is still found
    out = assign_pages(
        new, profiles, clusters, threshold=0.05, fuzzy_fallback=True,
        max_token_df=64,
    ).collect()
    assert len(out) == 1 and out[0]["cluster_id"] == "C7"

    # bound check: a page whose only SHARED token is the hot one (its
    # other tokens are unknown to every profile, so its LSH keys miss)
    # pairs with nobody — 'smith' is df-dropped as a meet key and the
    # exact-name key differs, so the fallback adds zero of the 400
    # would-be quadratic candidates
    lone = spark.createDataFrame(
        [payload("n2", "zzzz smith yyyy", ["zzzz", "smith", "yyyy"],
                 [1.0, 0.0])],
        schema,
    )
    assert assign_pages(lone, profiles, clusters, threshold=0.05).collect() == []
    out2 = assign_pages(
        lone, profiles, clusters, threshold=0.05, fuzzy_fallback=True,
        max_token_df=64,
    ).collect()
    assert out2 == []  # no rare-token or exact-name meet → NIL, not 400 pairs


def test_rnd_assign_ego_channel_breaks_pairwise_tie(spark):
    """use_ego=True adds the ego-graph set-level mean-cosine to the
    per-cluster score (the GNN-matching-model substitution): a cluster
    containing ONE look-alike member but an inconsistent profile loses
    to the cluster the page agrees with throughout, which the pairwise
    max alone cannot distinguish."""
    from whoiswho_spark.plans.rnd_pipeline import assign_pages

    def payload(url, title, toks, emb):
        return (url, title, toks, toks * 2, emb)

    schema = (
        "url string, title string, title_tokens array<string>, "
        "text_tokens array<string>, embedding array<double>"
    )
    t = "shared research page title"
    toks = t.split()
    e_page = [1.0, 0.0]
    # A_bad: one exact-embedding twin + two orthogonal members.
    # B_good: three members all near the page's embedding.
    profiles = spark.createDataFrame(
        [
            payload("a1", t, toks, [1.0, 0.0]),   # twin (ties the max)
            payload("a2", t, toks, [0.0, 1.0]),
            payload("a3", t, toks, [0.0, 1.0]),
            payload("b1", t, toks, [1.0, 0.0]),   # twin too
            payload("b2", t, toks, [0.9, 0.1]),
            payload("b3", t, toks, [0.95, 0.05]),
        ],
        schema,
    )
    clusters = spark.createDataFrame(
        [("a1", "A_bad"), ("a2", "A_bad"), ("a3", "A_bad"),
         ("b1", "B_good"), ("b2", "B_good"), ("b3", "B_good")],
        "url string, cluster_id string",
    )
    new = spark.createDataFrame([payload("n1", t, toks, e_page)], schema)

    # identical titles/tokens + an exact-embedding twin in BOTH clusters
    # → pairwise max ties; the deterministic tie-break picks A_bad
    plain = assign_pages(new, profiles, clusters, threshold=0.1).collect()
    assert len(plain) == 1 and plain[0]["cluster_id"] == "A_bad"

    ego = assign_pages(
        new, profiles, clusters, threshold=0.1, use_ego=True, ego_weight=0.5
    ).collect()
    assert len(ego) == 1 and ego[0]["cluster_id"] == "B_good"

"""The three benchmark workloads, each driven through the public API of
``whoiswho_spark``.

A workload has four parts:

- ``generate`` (class method, no Spark): write the seeded inputs;
- ``prepare``: load the inputs and do the program-side preparation
  (charged to ``setup_s`` together with session start and warm-up);
- ``op`` / ``check``: one timed operation and its correctness check
  (the check runs outside the op's wall time);
- ``traced_op``: the same operation split at layer boundaries. Each
  layer's input is materialized first; the layer is timed as the call
  plus a noop-sink write of its output.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from erbench import gen
from erbench.spans import Tracer, noop

from whoiswho_spark.constants import POST_MATCH_THRESHOLD
from whoiswho_spark.operators.blocking import cap_block_size, lsh_block_keys
from whoiswho_spark.operators.clustering import connected_components, threshold_edges
from whoiswho_spark.operators.pairs import candidate_pairs
from whoiswho_spark.operators.rnd import top1_assign
from whoiswho_spark.operators.scoring import score_pairs
from whoiswho_spark.plans import metrics as M
from whoiswho_spark.plans.pipeline import ERConfig, evaluate_run, extract_stage, run_pipeline
from whoiswho_spark.plans.rnd_pipeline import assign_pages

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
PAIR_COLS = [
    "block_key", "url_a", "url_b", "f_emb_dot", "f_text_tanimoto",
    "f_title_cos3", "f_title_common", "score",
]
F1_GATE = 0.99  # the tests/test_pipeline.py gate


class OpResult:
    """What a timed op hands to its check."""

    def __init__(self, **kw):
        self.__dict__.update(kw)


class Check:
    def __init__(self, ok: bool, quality: float, why: str = ""):
        self.ok, self.quality, self.why = ok, quality, why


class Workload:
    name = ""
    warmup_ops = 1
    # the timed phase runs at least this many ops, even past --seconds:
    # the first op after the warm-up still runs 5-15% slow and single ops
    # swing with the shared VM's load, so a run reports the median of
    # three (two for the 10 s snd_batch op, which the run budget allows)
    min_ops = 3
    pages_per_op = 0  # input pages one op completes

    def __init__(self, spark, work: str):
        self.spark, self.work = spark, work
        self.fingerprint: dict = {}

    def _dir(self, kind: str, i: int) -> str:
        d = f"{self.work}/{kind}{i}"
        shutil.rmtree(d, ignore_errors=True)
        return d


# --- snd_batch ----------------------------------------------------------------


def check_snd(f1: float, n_clustered: int, n_pages: int, seen: dict, want: dict) -> Check:
    if seen != want:
        return Check(False, f1, f"fingerprint drift {seen} != {want}")
    if n_clustered != n_pages:
        return Check(False, f1, f"{n_clustered} clustered urls != {n_pages} pages")
    if f1 < F1_GATE:
        return Check(False, f1, f"F1 {f1:.4f} < {F1_GATE}")
    return Check(True, f1)


class SndBatch(Workload):
    """One op = ``run_pipeline`` (default ERConfig, cc) with resume off,
    in a fresh workdir, over generated pages with precomputed
    embeddings."""

    name = "snd_batch"
    min_ops = 2
    N_PAGES = 450

    pages_per_op = N_PAGES

    @classmethod
    def generate(cls, seed: int, inp: str) -> dict:
        df = gen.entity_pages(seed, cls.N_PAGES)
        gen.write_parquet(df, f"{inp}/corpus.parquet")
        return {"pages": len(df), "pages_digest": gen.pages_digest(df)}

    def prepare(self, inp: str) -> None:
        corpus = self.spark.read.parquet(f"{inp}/corpus.parquet")
        self.pages = corpus.select(*PAGE_COLS)
        self.embs = corpus.select("url", "embedding")
        self.labels = corpus.select("url", "entity_id")
        self.cfg = ERConfig(resume=False)
        self.reference: dict | None = None  # the first op's clusters and F1

    def op(self, i: int) -> OpResult:
        wd = self._dir("snd", i)
        run_pipeline(self.spark, self.pages, self.embs, wd, self.cfg)
        return OpResult(workdir=wd)

    def counts(self, wd: str) -> dict:
        rows = (
            M.read_metrics(self.spark, wd)
            .groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
        )
        by = {r["stage"]: int(r["n"]) for r in rows}
        return {
            "block_rows": by.get("blocks"),
            "candidate_pairs": by.get("pairs"),
            "clustered": by.get("clusters"),
        }

    def check(self, res: OpResult) -> Check:
        """The first op (the warm-up) is scored with ``evaluate_run``;
        a later op whose clusters equal it, url for url, has the same F1
        by construction (run_pipeline is deterministic), so only a
        differing op is scored again."""
        seen = self.counts(res.workdir)
        clusters = {
            r["url"]: r["cluster_id"]
            for r in self.spark.read.parquet(f"{res.workdir}/clusters").collect()
        }
        if self.reference is None:
            self.fingerprint = dict(seen)
            f1 = evaluate_run(self.spark, res.workdir, self.labels)
            self.reference = {"clusters": clusters, "f1": f1}
        elif clusters == self.reference["clusters"]:
            f1 = self.reference["f1"]
        else:
            f1 = evaluate_run(self.spark, res.workdir, self.labels)
        out = check_snd(f1, len(clusters), self.pages_per_op, seen, self.fingerprint)
        shutil.rmtree(res.workdir, ignore_errors=True)
        return out

    def traced_op(self, i: int, tr: Tracer) -> dict:
        """run_pipeline's stages, one layer at a time. Each stage is
        timed twice: as a noop write of its compute (the layer) and as
        the checkpointed ``plans.metrics.stage`` call, whose output is
        the next layer's materialized input; the difference is the
        checkpoint cost."""
        spark, cfg, wd = self.spark, self.cfg, self._dir("snd_traced", i)
        rid = M.new_run_id()
        ckpt = []

        def layer_then_stage(layer, name, compute, bucket_col=None):
            with tr.span(layer, i) as s:
                noop(compute())
            with tr.span(f"plans.metrics.stage.{name}", i) as st:
                if bucket_col:
                    out = M.stage_bucketed(
                        spark, wd, rid, name, compute, bucket_col=bucket_col,
                        n_buckets=cfg.bucket_stages, resume=False,
                    )
                else:
                    out = M.stage(spark, wd, rid, name, compute, resume=False)
            ckpt.append(st.dur - s.dur)
            return out

        payload = layer_then_stage(
            "functions.normalize.extract", "extract",
            lambda: extract_stage(self.pages), "url",
        )
        blocks = layer_then_stage(
            "operators.blocking.blocks", "blocks",
            lambda: cap_block_size(
                lsh_block_keys(
                    payload.select("url", "title", "host"), title="title",
                    num_hashes=cfg.num_hashes, bands=cfg.bands,
                ),
                cfg.block_cap,
            ),
            "url",
        )
        pay = payload.select("url", "title", "title_tokens", "text_tokens").join(
            self.embs, "url", "left"
        ).withColumn("embedding", F.coalesce("embedding", F.array([F.lit(0.0)])))
        with tr.span("operators.pairs.pairs", i):
            noop(candidate_pairs(blocks, payload=pay))
        cand_path = f"{wd}/trace_candidates"
        with tr.span("trace.materialize", i):
            candidate_pairs(blocks, payload=pay).write.parquet(cand_path)
        cand = spark.read.parquet(cand_path)
        pairs = layer_then_stage(
            "operators.scoring.score", "pairs",
            lambda: score_pairs(cand).select(*PAIR_COLS), "url_a",
        )
        edges = layer_then_stage(
            "operators.clustering.edges", "edges",
            lambda: threshold_edges(pairs, cfg.threshold),
        )

        def cc():
            return connected_components(
                edges, vertices=payload.select("url"),
                checkpoint_dir=f"{wd}/cc_checkpoints", resume=False,
            )

        clusters = layer_then_stage("operators.clustering.cc", "clusters", cc)

        block_rows = blocks.count()
        n_cand = cand.count()
        n_edges = edges.count()
        max_block = blocks.groupBy("block_key").count().agg(F.max("count")).first()[0]
        components = clusters.select("cluster_id").distinct().count()
        shutil.rmtree(wd, ignore_errors=True)
        return {
            "operators.blocking.block_rows": block_rows,
            "operators.blocking.max_block_size": max_block,
            "operators.pairs.candidate_pairs": n_cand,
            "operators.pairs.pairs_per_page": n_cand / self.pages_per_op,
            "operators.clustering.edge_yield": n_edges / max(n_cand, 1),
            "operators.clustering.components": components,
            "plans.metrics.checkpoint_s": sum(ckpt),
        }


# --- rnd_assign ---------------------------------------------------------------


def cluster_name(entity_id: int) -> str:
    return f"e{entity_id}"


def check_rnd(assigned: dict, expect: dict, floor: float) -> Check:
    """``assigned``: url -> cluster_id of the op's output; ``expect``:
    url -> the profile cluster of a held-out page's entity, or None for
    an unseen page (must go to NIL)."""
    correct = sum(assigned.get(url) == want for url, want in expect.items())
    acc = correct / len(expect)
    extra = set(assigned) - set(expect)
    if extra:
        return Check(False, acc, f"{len(extra)} assignments for urls not in the request")
    if acc < floor:
        return Check(False, acc, f"accuracy {acc:.4f} < {floor}")
    return Check(True, acc)


class RndAssign(Workload):
    """One op = one request of raw new pages through ``extract_stage``
    then ``assign_pages`` against the stored profile tables."""

    name = "rnd_assign"
    N_CORPUS_PAGES = 1300  # profile + held-out variants
    N_REQUESTS = 6
    REQUEST_SIZE = pages_per_op = 48
    UNSEEN_PER_REQUEST = 12
    # a held-out variant can legitimately miss its profile (its title
    # mutations broke every LSH band): the floor allows for that
    ACCURACY_FLOOR = 0.9

    @classmethod
    def generate(cls, seed: int, inp: str) -> dict:
        profile, requests = gen.rnd_inputs(
            seed, cls.N_CORPUS_PAGES, cls.N_REQUESTS, cls.REQUEST_SIZE,
            cls.UNSEEN_PER_REQUEST,
        )
        gen.write_parquet(profile, f"{inp}/profile.parquet")
        for r, req in enumerate(requests):
            gen.write_parquet(req, f"{inp}/request{r}.parquet")
        return {
            "pages": len(profile) + sum(len(r) for r in requests),
            "pages_digest": gen.pages_digest(pd.concat([profile, *requests])),
        }

    def prepare(self, inp: str) -> None:
        spark = self.spark
        self.inp = inp
        profile = spark.read.parquet(f"{inp}/profile.parquet")
        # stored profile tables: the extracted profile pages (+ embeddings)
        # and the profiles themselves, one cluster per known entity
        self._new_payload(profile).write.parquet(f"{self.work}/profile_payload")
        labels = pq.read_table(f"{inp}/profile.parquet", columns=["url", "entity_id"])
        gen.write_parquet(
            pd.DataFrame({
                "url": labels["url"].to_pylist(),
                "cluster_id": [cluster_name(e) for e in labels["entity_id"].to_pylist()],
            }),
            f"{self.work}/profile_clusters/part-0.parquet",
        )
        self.profile_payload = spark.read.parquet(f"{self.work}/profile_payload")
        self.clusters = spark.read.parquet(f"{self.work}/profile_clusters")
        self.expect = []
        for r in range(self.N_REQUESTS):
            req = pq.read_table(
                f"{inp}/request{r}.parquet", columns=["url", "entity_id", "expect_nil"]
            ).to_pylist()
            self.expect.append({
                x["url"]: None if x["expect_nil"] else cluster_name(x["entity_id"])
                for x in req
            })
        self.fingerprint = {"profile_pages": labels.num_rows}

    def _request(self, i: int):
        r = i % self.N_REQUESTS
        return r, self.spark.read.parquet(f"{self.inp}/request{r}.parquet")

    @staticmethod
    def _new_payload(pages):
        return extract_stage(pages.select(*PAGE_COLS)).join(
            pages.select("url", "embedding"), "url"
        ).select("url", "title", "title_tokens", "text_tokens", "embedding")

    def op(self, i: int) -> OpResult:
        r, req = self._request(i)
        out = assign_pages(self._new_payload(req), self.profile_payload, self.clusters)
        rows = out.select("url", "cluster_id").collect()
        return OpResult(request=r, assigned={x["url"]: x["cluster_id"] for x in rows})

    def check(self, res: OpResult) -> Check:
        return check_rnd(res.assigned, self.expect[res.request], self.ACCURACY_FLOOR)

    def traced_op(self, i: int, tr: Tracer) -> dict:
        """assign_pages split at its layers (profile-side keys, pair join,
        scoring, per-cluster top-1), plus the whole call as
        ``plans.rnd_pipeline.assign``."""
        spark, wd = self.spark, self._dir("rnd_traced", i)
        r, req = self._request(i)

        def mat(df, name):
            with tr.span("trace.materialize", i):
                df.write.parquet(f"{wd}/{name}")
            return spark.read.parquet(f"{wd}/{name}")

        def keys(df):
            d = df.select("url", "title").withColumn("host", F.lit(""))
            return lsh_block_keys(d, num_hashes=8, bands=4)

        with tr.span("functions.normalize.extract", i):
            noop(self._new_payload(req))
        new_payload = mat(self._new_payload(req), "new_payload")
        with tr.span("operators.blocking.profile_keys", i):
            noop(keys(self.profile_payload))
        prof_keys = mat(keys(self.profile_payload), "prof_keys")
        new_keys = mat(keys(new_payload), "new_keys")

        def pairs_df():
            return (
                new_keys.withColumnRenamed("url", "url_new")
                .join(prof_keys.withColumnRenamed("url", "url_prof"), "block_key")
                .select("url_new", "url_prof").distinct()
            )

        with tr.span("operators.pairs.pairs", i):
            noop(pairs_df())
        pairs = mat(pairs_df(), "pairs")
        cols = ("title", "title_tokens", "text_tokens", "embedding")
        a = new_payload.select(
            F.col("url").alias("url_new"), *[F.col(c).alias(f"{c}_a") for c in cols]
        )
        b = self.profile_payload.select(
            F.col("url").alias("url_prof"), *[F.col(c).alias(f"{c}_b") for c in cols]
        )

        def scored_df():
            return score_pairs(
                pairs.join(a, "url_new").join(b, "url_prof"),
                id_a="url_new", id_b="url_prof", memo_shared_ids=False,
            ).select("url_new", "url_prof", "score")

        with tr.span("operators.scoring.score", i):
            noop(scored_df())
        scored = mat(scored_df(), "scored")
        n_pairs = scored.count()

        def top1_df():
            per_cluster = (
                scored.join(self.clusters.withColumnRenamed("url", "url_prof"), "url_prof")
                .groupBy("url_new", "cluster_id").agg(F.max("score").alias("score"))
            )
            return top1_assign(
                per_cluster, item_col="url_new", cand_col="cluster_id",
                score_col="score", threshold=POST_MATCH_THRESHOLD,
            )

        with tr.span("operators.rnd.top1", i):
            noop(top1_df())
        with tr.span("plans.rnd_pipeline.assign", i):
            noop(assign_pages(new_payload, self.profile_payload, self.clusters))
        assigned = mat(top1_df(), "assigned").count()
        shutil.rmtree(wd, ignore_errors=True)
        return {
            "operators.pairs.candidate_pairs": n_pairs,
            "operators.pairs.pairs_per_page": n_pairs / self.REQUEST_SIZE,
            "operators.rnd.nil_frac": 1.0 - assigned / self.REQUEST_SIZE,
        }


# --- stream_er ----------------------------------------------------------------


def block_pair_scores(docs: pd.DataFrame) -> pd.DataFrame:
    """(url_a < url_b, tanimoto of their token sets) for every pair of
    pages sharing a block_key."""
    rows = []
    for _, grp in docs.groupby("block_key"):
        members = sorted(zip(grp["url"], (set(t) for t in grp["toks"])))
        for k, (ua, ta) in enumerate(members):
            for ub, tb in members[k + 1 :]:
                union = len(ta | tb)
                rows.append((ua, ub, len(ta & tb) / union if union else 0.0))
    return pd.DataFrame(rows, columns=["url_a", "url_b", "score"])


def threshold_components(urls, edges: pd.DataFrame) -> dict:
    """url -> min member url of its connected component over ``edges``
    (url_a, url_b): the partition batch ``threshold_edges`` +
    ``connected_components`` compute, by union-find."""
    parent = {u: u for u in urls}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in zip(edges["url_a"], edges["url_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def check_stream(got: dict, oracle: dict) -> Check:
    """``got``/``oracle``: url -> canonical cluster (min member url)."""
    match = sum(1 for u, c in oracle.items() if got.get(u) == c)
    q = match / len(oracle)
    extra = set(got) - set(oracle)
    if extra:
        return Check(False, q, f"{len(extra)} urls not in the input")
    if match != len(oracle):
        return Check(False, q, f"{len(oracle) - match} urls differ from batch CC")
    return Check(True, q)


class StreamEr(Workload):
    """One op = ``run_incremental_er_once`` draining the input files
    (one per micro-batch) into a fresh checkpoint and parquet sink."""

    name = "stream_er"
    N_PAGES = 450
    N_FILES = 2
    THRESHOLD = 0.5

    @classmethod
    def generate(cls, seed: int, inp: str) -> dict:
        files = gen.stream_inputs(seed, cls.N_PAGES, cls.N_FILES)
        for k, f in enumerate(files):
            gen.write_parquet(f, f"{inp}/stream/part-{k:05d}.parquet")
        return {"pages": sum(len(f) for f in files)}

    def prepare(self, inp: str) -> None:
        self.src = f"{inp}/stream"
        docs = pq.read_table(self.src).to_pandas()
        self.n_pages = self.pages_per_op = len(docs)
        pairs = block_pair_scores(docs)
        self.oracle = threshold_components(
            docs["url"], pairs[pairs["score"] >= self.THRESHOLD]
        )
        self.fingerprint = {
            "blocks": int(docs["block_key"].nunique()),
            "candidate_pairs": len(pairs),
            "components": len(set(self.oracle.values())),
        }

    def _drain(self, i: int, metrics_dir: str | None = None):
        from whoiswho_spark.streaming.incremental_er import run_incremental_er_once

        d = self._dir("stream", i)
        return run_incremental_er_once(
            self.spark, self.src, f"{d}/ckpt", name=f"er_bench_{i}",
            threshold=self.THRESHOLD, output_dir=f"{d}/sink",
            metrics_dir=metrics_dir, run_id=f"op{i}",
        ), d

    def op(self, i: int) -> OpResult:
        events, d = self._drain(i)
        return OpResult(events=events, dir=d)

    def check(self, res: OpResult) -> Check:
        from whoiswho_spark.streaming.incremental_er import canonical_partition

        got = {r["url"]: r["cluster"] for r in canonical_partition(res.events).collect()}
        out = check_stream(got, self.oracle)
        shutil.rmtree(res.dir, ignore_errors=True)
        return out

    def traced_op(self, i: int, tr: Tracer) -> dict:
        from whoiswho_spark.streaming.incremental_er import final_assignments

        md = f"{self.work}/stream_metrics{i}"
        shutil.rmtree(md, ignore_errors=True)
        with tr.span("streaming.incremental_er.drain", i):
            events, d = self._drain(i, metrics_dir=md)
        events = self.spark.read.parquet(f"{d}/sink")
        with tr.span("streaming.incremental_er.final_assignments", i):
            noop(final_assignments(events))
        m = M.read_streaming_metrics(self.spark, md).where(F.col("input_rows") > 0)
        walls = sorted(r["wall_ms"] for r in m.select("wall_ms").collect())
        agg = m.agg(F.count("*").alias("n"), F.max("state_rows").alias("peak")).first()
        n_events = events.where(~F.col("url").startswith("\x00")).count()
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(md, ignore_errors=True)
        return {
            "streaming.incremental_er.micro_batches": int(agg["n"]),
            "streaming.incremental_er.batch_p50_ms": _median(walls),
            "streaming.incremental_er.state_rows_peak": int(agg["peak"]),
            "streaming.incremental_er.events_per_page": n_events / self.n_pages,
        }


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2 if n else 0.0


WORKLOADS = {w.name: w for w in (SndBatch, RndAssign, StreamEr)}

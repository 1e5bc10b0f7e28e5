"""Transitive clustering — thresholded match graph → connected components.

The reference clusters per block with DBSCAN on a dense N×N distance
matrix plus a sequential post-match pass (/root/reference/whoiswho/
training/AutoTrainSND.py:163-206, loadmodel/ClusterModels.py:5-23). Dense
matrices don't exist at 10^12 rows; per the north star we re-express the
transitive step as **iterative large-star / small-star connected
components** (Kiveris et al., "Connected Components in MapReduce and
Beyond") over the sparse edge table — O(log n) rounds, each round two
shuffles, lineage cut per round with localCheckpoint.

Semantics contract (tested): identical component assignment to a
single-node union-find on the same edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whoiswho_spark.constants import POST_MATCH_THRESHOLD


def threshold_edges(
    scored_pairs: DataFrame,
    threshold: float = POST_MATCH_THRESHOLD,
    score_col: str = "score",
    src: str = "url_a",
    dst: str = "url_b",
) -> DataFrame:
    """Keep pairs with score ≥ threshold (the ≥1.5 attach rule of
    AutoTrainSND.py:194) → edges(src, dst)."""
    return (
        scored_pairs.where(F.col(score_col) >= threshold)
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    # Round 6 (guide §3.3): apply the dst>src emit-filter to the probe
    # side BEFORE the join — Catalyst does not push it down itself
    # (src is the join key, so the predicate "references both sides"),
    # and pre-filtering halves the probe rows (48M → 24M at the er
    # bench's sf1 round 1; measured 6.5 s → 5.4-6.0 s). Identical
    # output: filter-then-join == join-then-filter for a predicate over
    # probe-side columns only.
    return (
        sym.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (u ≥ v); for each u: m = min(N_≤(u) ∪ {u}); emit (v, m)
    for v ∈ N_≤(u) ∪ {u}, v ≠ m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    nodes = oriented.join(mins, "src").select(
        F.col("dst").alias("v"), F.col("m"), F.col("src").alias("u")
    )
    self_rows = mins.select(
        F.col("src").alias("v"), F.col("m"), F.col("src").alias("u")
    )
    return (
        nodes.union(self_rows)
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


# ranks-dictionary broadcast bound for the CC node encode (rows): one
# (node, rk) row is ~40 B framed, so 10M rows ≈ 400 MB — inside the
# executor-comfortable range, far under the 8 GB/512M-row broadcast cap.
# Beyond it the encode joins fall back to the planner (sort-merge at
# billion-node scale, where the one-time encode still amortizes over the
# O(log n) star rounds it narrows).
_ENCODE_BROADCAST_ROWS = 10_000_000


def _node_ranks(edges: DataFrame) -> tuple[DataFrame, int]:
    """(src, dst) → ((node, rk), n_nodes): dense 1..n longs over the
    distinct nodes in NODE SORT ORDER — the CC-internal id dictionary.

    Order preservation is the exactness argument: rk is a strictly
    monotone bijection of the node values, so min-rank per component
    decodes to exactly the min-node label the string loop would emit.
    Built distributed exactly like dedup._dense_token_ranks (range
    partition → per-partition row_number → tiny driver prefix sum over
    partition counts); rank values are boundary-independent, hence
    reproducible across sessions for the same node set — which is what
    lets a checkpointed run resume from int-edge iteration files and
    still decode with a freshly rebuilt dictionary."""
    spark = edges.sparkSession
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = nodes.repartitionByRange(n_parts, "node").withColumn(
        "_p", F.spark_partition_id()
    )
    w = Window.partitionBy("_p").orderBy("node")
    local = parted.select(
        "node", "_p", F.row_number().over(w).alias("_rn")
    ).localCheckpoint()
    counts = {
        r["_p"]: r["n"]
        for r in local.groupBy("_p").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return local.select("node", F.col("_rn").cast("long").alias("rk")), 0
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.create_map(
        *[F.lit(x) for p_o in sorted(offsets.items()) for x in p_o]
    )
    ranks = local.select(
        "node", (off[F.col("_p")] + F.col("_rn")).cast("long").alias("rk")
    )
    return ranks, acc


def _encode_edges(edges: DataFrame, ranks: DataFrame, n_nodes: int) -> DataFrame:
    """Map (src, dst) through the node dictionary → long edges. Inner
    joins on a total dictionary preserve every row (each node has
    exactly one rank), so edge count and multiplicity are unchanged."""
    r = F.broadcast(ranks) if 0 < n_nodes <= _ENCODE_BROADCAST_ROWS else ranks
    return (
        edges.join(r.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("rk", "_si")
        .join(
            r.withColumnRenamed("node", "dst").withColumnRenamed("rk", "_di"),
            "dst",
        )
        .select(F.col("_si").alias("src"), F.col("_di").alias("dst"))
    )


def _local_union_find_star(edges: DataFrame) -> DataFrame:
    """Single-task union-find finishing pass: an edge set already below
    the in-memory bound → its fixpoint star edge set (node, component-min
    root), node != root — exactly what the large-star/small-star loop
    would converge to, in ONE task instead of O(log n) more rounds.

    Union-by-min keeps the root the component minimum under Python
    code-point order, which equals Spark's UTF8String byte order (UTF-8
    is code-point-order-preserving), so the downstream min-label
    aggregate agrees with the iterative path. Runs as mapInPandas on a
    coalesce(1) — bounded memory by construction (caller checks the edge
    count), executor-side, no driver collect."""
    import pandas as pd

    schema = edges.schema
    s_name, d_name = schema[0].name, schema[1].name

    def finish(iters):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        for pdf in iters:
            for s, d in zip(pdf[s_name], pdf[d_name]):
                nodes.add(s)
                nodes.add(d)
                rs, rd = find(s), find(d)
                if rs == rd:
                    continue
                if rd < rs:
                    rs, rd = rd, rs
                parent[rd] = rs
        out_s, out_d = [], []
        for x in nodes:
            r = find(x)
            if r != x:
                out_s.append(x)
                out_d.append(r)
        yield pd.DataFrame({s_name: out_s, d_name: out_d})

    return edges.coalesce(1).mapInPandas(finish, schema)


def _delete_path(spark, path: str) -> None:
    """Recursive delete via Hadoop FS (local paths and object stores alike)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if fs.exists(p):
        fs.delete(p, True)


def _fs_write_text(spark, path: str, content: str) -> None:
    """Single-file text write via Hadoop FS — a marker/metadata write with
    ZERO Spark jobs (a tiny-parquet marker costs a full job's fixed
    overhead per write; at one marker per CC run that overhead dominated
    the protocol). Works on local paths and object stores alike."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _fs_read_line(spark, path: str) -> str | None:
    """First line of a text file via Hadoop FS; None if absent/unreadable
    (a truncated half-written marker reads as 'no marker' → recompute)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return None
    try:
        stream = fs.open(p)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            return reader.readLine()
        finally:
            stream.close()
    except Exception:
        return None


class ConvergenceError(RuntimeError):
    """Raised when the CC loop exhausts max_iter without a checksum fixpoint.

    With a ``checkpoint_dir`` the completed iterations are on disk, so a
    rerun with a larger ``max_iter`` resumes from the last iteration rather
    than restarting the loop.
    """


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    local_finish_threshold: int = 1_000_000,
) -> DataFrame:
    """edges(src, dst) → (url, cluster_id STRING = component-min node id).

    Alternates large-star/small-star until the edge set is a fixpoint
    (checked by count + order-insensitive checksum — two cheap aggregates,
    no collect of edges). Hybrid finish: star rounds shrink the edge set
    geometrically; once its count (already in hand from the checksum)
    drops to ``local_finish_threshold``, a single executor-side
    union-find task (``_local_union_find_star``) emits the final star set
    directly — the iterative path's O(log n) tail of 6-shuffle rounds
    becomes one task. At 100 TB the first rounds run distributed; the
    sub-bound tail always finishes locally. An input already within the
    bound (its count comes from the input checksum) skips the node
    dictionary encode too: the union-find runs on the original ids.
    ``local_finish_threshold=0`` forces the pure-iterative path. Each
    iteration truncates lineage: in-memory localCheckpoint by default,
    or — when ``checkpoint_dir`` is given — a parquet checkpoint per
    iteration (``iter_k`` dirs with _SUCCESS markers), so a killed job
    resumes MID-STAGE from the last completed iteration instead of
    recomputing the loop (north-rule resumability).

    Checkpoint safety: the dir is keyed by a content checksum of the INPUT
    edge set (count + order-insensitive xxhash64 XOR, stored in
    ``input_checksum``, with a marker of the iteration-file format). A
    resumed run whose input no longer matches — the threshold changed,
    the pairs were regenerated — wipes the stale state and recomputes
    instead of silently returning the previous run's clusters.
    ``resume=False`` wipes unconditionally. The ``converged`` marker is
    written ONLY when the fixpoint was actually observed; if the loop
    exhausts ``max_iter`` first, :class:`ConvergenceError` is raised
    (never wrong labels), and a resumed run with a larger ``max_iter``
    continues from the last checkpointed iteration.

    ``vertices`` (column ``url``): optional universe; isolated vertices
    become singleton clusters labeled by themselves.
    """
    spark = edges.sparkSession
    # Round 6: no input ``.distinct()`` — connected components of a
    # multigraph equal those of its simple graph, and every star round
    # already dedupes its own output, so the up-front distinct was one
    # full exchange+aggregate over the input (23.7M rows, ~4 s at sf1)
    # spent only to shrink the first round's input. Duplicate edges
    # merely inflate the first checksum count (internal) and delay the
    # local-finish cutover by the duplication factor.
    edges = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    # Round 6 (guide §2.3 "narrower types"): min() over a VAR-LENGTH node
    # id cannot use HashAggregate (the aggregation buffer must be
    # fixed-width), so every star round SORT-aggregated the full
    # symmetrized edge list and every exchange carried strings — the
    # executed round-1 plan showed SortAggregate over 48M string rows as
    # the er CC wall at sf1. Non-integral node ids are therefore encoded
    # ONCE to dense longs via a node-sort-order-preserving dictionary
    # (min-rank ↔ min-node, so labels decode identically — see
    # _node_ranks); the loop then runs hash-aggregated, 16-byte-row star
    # rounds. Measured at the sf1 stand-in (24M string edges): 17.1 s →
    # 8.7 s end-to-end, labels identical. Integral ids skip the encode,
    # and so do small inputs (below).
    use_encode = dict(edges.dtypes)["src"] not in (
        "tinyint", "smallint", "int", "bigint"
    )
    ranks: DataFrame | None = None
    n_nodes = 0

    def _persist(e: DataFrame, it: int) -> DataFrame:
        if checkpoint_dir is None:
            return e.localCheckpoint()
        path = f"{checkpoint_dir}/iter_{it}"
        e.write.mode("overwrite").parquet(path)
        return spark.read.schema(e.schema).parquet(path)  # no inference job

    def _resume_point() -> tuple[int, DataFrame | None]:
        if checkpoint_dir is None:
            return -1, None
        from whoiswho_spark.plans.metrics import _success_exists

        last = -1
        it = 0
        # scan past max_iter too: a resumed run may have a SMALLER max_iter
        # than the run that wrote the checkpoints
        while _success_exists(spark, f"{checkpoint_dir}/iter_{it}"):
            last = it
            it += 1
        if last < 0:
            return -1, None
        return last, spark.read.parquet(f"{checkpoint_dir}/iter_{last}")

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _is_small(n: int) -> bool:
        # Small-input path: an input at or below the local-finish bound
        # goes straight to the union-find finish, on the ORIGINAL ids —
        # the dictionary encode, the encoded checksum, the lineage cuts
        # and the decode joins only pay when star rounds run.
        return 0 < local_finish_threshold and n <= local_finish_threshold

    cut = False  # is ``edges`` already a localCheckpoint of the input?
    if checkpoint_dir is None:
        # cut first, then count the cut: one evaluation of the input
        edges = edges.localCheckpoint()
        cut = True
        input_sum = _checksum(edges)
        small = _is_small(input_sum[0])
    else:
        import json

        # Key the checkpoint state by the input edges' content checksum so a
        # stale dir (different edges, same workdir) is never silently reused.
        # Stored as a plain-text FS file (zero Spark jobs) at a path whose
        # existence check matches the _SUCCESS convention.
        sum_path = f"{checkpoint_dir}/input_checksum/_SUCCESS"
        stored_sum = None
        if not resume:
            _delete_path(spark, checkpoint_dir)
        else:
            raw = _fs_read_line(spark, sum_path)
            if raw is not None:
                try:
                    stored_sum = tuple(json.loads(raw))
                except ValueError:
                    stored_sum = None
        if use_encode and stored_sum and stored_sum[-1] == "enc1":
            # a dir of encoded iterations: resuming it rebuilds the
            # dictionary, so cut the input once and feed both the
            # checksum and _node_ranks from that cut
            edges = edges.localCheckpoint()
            cut = True
        input_sum = _checksum(edges)
        small = _is_small(input_sum[0])
        # Iteration-file format marker. Small-path files hold the original
        # ids, encoded-loop files dense longs, so the key says which path
        # wrote them and a resume never reads one format as the other: a
        # dir from the other path reads as stale and is wiped. The path is
        # a function of the input count (key[0]) and the threshold, so
        # equal keys mean equal paths. Integral-id loop checkpoints keep
        # the unmarked key (their format never changed).
        if small:
            input_sum = (*input_sum, "small1")
        elif use_encode:
            input_sum = (*input_sum, "enc1")
        if stored_sum != input_sum:
            _delete_path(spark, checkpoint_dir)
            _fs_write_text(spark, sum_path, json.dumps(list(input_sum)))

    input_edges = edges
    start_iter, resumed = _resume_point()
    already_converged = False
    if resumed is not None:
        edges = resumed
        prev = _checksum(edges)
        from whoiswho_spark.plans.metrics import _success_exists

        # converged marker is a plain _SUCCESS file written via the Hadoop
        # FS API → works on any Hadoop-compatible FS (object stores
        # included), single-file create, zero Spark jobs
        already_converged = _success_exists(spark, f"{checkpoint_dir}/converged")
    elif small:
        # the loop's first step is the union-find finish on the input
        prev = input_sum
    else:
        # lineage cut only — _resume_point scans from iter_0, so a parquet
        # copy of the INPUT would never be read by a resume; localCheckpoint
        # gives the same cut without the write+read round-trip
        if not cut:
            edges = edges.localCheckpoint()
        if use_encode:
            # dictionary from the CUT input (one lineage evaluation), then
            # cut the narrow long edges the loop will actually iterate on;
            # the loop checksums the LONG edges (the string input_sum would
            # never match a round hash), so the fixpoint test is meaningful
            # from round 1
            ranks, n_nodes = _node_ranks(edges)
            edges = _encode_edges(edges, ranks, n_nodes).localCheckpoint()
            prev = _checksum(edges)
        else:
            prev = input_sum

    if not already_converged:
        converged = False
        it = start_iter
        while True:
            # hybrid tail: once the edge set fits the in-memory bound
            # (the count is already in hand from the fixpoint checksum),
            # finish in ONE union-find task instead of O(log n) more
            # rounds of 6 shuffles each. local_finish_threshold=0
            # disables (pure-iterative path).
            if _is_small(prev[0]):
                edges = _persist(_local_union_find_star(edges), it + 1)
                converged = True
                break
            it += 1
            if it >= max_iter:
                break
            edges = _persist(_small_star(_large_star(edges)), it)
            cur = _checksum(edges)
            if cur == prev:
                converged = True
                break
            prev = cur
        if not converged:
            raise ConvergenceError(
                f"connected_components hit max_iter={max_iter} without reaching "
                "the edge-set fixpoint; labels would be wrong. Rerun with a "
                "larger max_iter"
                + (
                    " (resume continues from the last checkpointed iteration)"
                    if checkpoint_dir
                    else ""
                )
            )
        if checkpoint_dir is not None:
            _fs_write_text(spark, f"{checkpoint_dir}/converged/_SUCCESS", "")

    # At the fixpoint every edge is (node, component_min).
    labels = (
        _symmetrize(edges)
        .groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("cluster_id"))
        .select(F.col("src").alias("url"), "cluster_id")
    )
    if use_encode and not small:
        # decode ranks → original node ids; min-rank ↔ min-node, so the
        # labels are exactly the string loop's. A resumed/already-
        # converged run rebuilds the dictionary from the cut input (rank
        # values are reproducible for the same node set — _node_ranks).
        if ranks is None:
            ranks, n_nodes = _node_ranks(input_edges)
        r = (
            F.broadcast(ranks)
            if 0 < n_nodes <= _ENCODE_BROADCAST_ROWS
            else ranks
        )
        labels = (
            labels.join(
                r.withColumnRenamed("rk", "url").withColumnRenamed(
                    "node", "_url_node"
                ),
                "url",
            )
            .join(
                r.withColumnRenamed("rk", "cluster_id").withColumnRenamed(
                    "node", "_cid_node"
                ),
                "cluster_id",
            )
            .select(
                F.col("_url_node").alias("url"),
                F.col("_cid_node").alias("cluster_id"),
            )
        )
    if vertices is not None:
        labels = (
            vertices.select("url")
            .distinct()
            .join(labels, "url", "left")
            .select("url", F.coalesce("cluster_id", F.col("url")).alias("cluster_id"))
        )
    return labels


def post_match(
    clusters: DataFrame,
    scored_pairs: DataFrame,
    outliers: DataFrame,
    threshold: float = POST_MATCH_THRESHOLD,
) -> DataFrame:
    """Outlier reattachment, relationally (AutoTrainSND.py:163-206).

    - outlier→non-outlier: attach each outlier to the cluster of its
      best-scoring non-outlier neighbor if that score ≥ threshold
      (window max per outlier = the reference's argmax loop).
    - outlier→outlier: pairs ≥ threshold merge transitively — the
      reference chains assignments in a sequential pass; connected
      components is the order-free equivalent.
    - unattached outliers keep their own singleton cluster.

    clusters: (url, cluster_id); scored_pairs: (url_a, url_b, score);
    outliers: (url).
    """
    out = outliers.select("url").distinct()
    sym = scored_pairs.select(
        F.col("url_a").alias("u"), F.col("url_b").alias("v"), "score"
    ).union(
        scored_pairs.select(
            F.col("url_b").alias("u"), F.col("url_a").alias("v"), "score"
        )
    )
    # best non-outlier neighbor per outlier
    cand = (
        sym.join(out.withColumnRenamed("url", "u"), "u")
        .join(
            out.withColumnRenamed("url", "v").withColumn("_is_out", F.lit(1)),
            "v",
            "left_anti",
        )
        .where(F.col("score") >= threshold)
    )
    w = Window.partitionBy("u").orderBy(F.desc("score"), F.asc("v"))
    attach = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("u").alias("url"), F.col("v").alias("anchor"))
    )
    anchored = attach.join(
        clusters.withColumnRenamed("url", "anchor").withColumnRenamed(
            "cluster_id", "anchor_cluster"
        ),
        "anchor",
    ).select("url", F.col("anchor_cluster").alias("cluster_id"))

    # outlier-outlier transitive merges
    oo_edges = (
        scored_pairs.join(out.withColumnRenamed("url", "url_a"), "url_a")
        .join(out.withColumnRenamed("url", "url_b"), "url_b")
        .where(F.col("score") >= threshold)
        .select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
    )
    oo_cc = connected_components(oo_edges)

    merged = (
        clusters.join(anchored.withColumnRenamed("cluster_id", "new_cid"), "url", "left")
        .select("url", F.coalesce("new_cid", F.col("cluster_id")).alias("cluster_id"))
    )
    # outlier-outlier groups adopt one shared cluster id (min member's id)
    grp = (
        oo_cc.withColumnRenamed("cluster_id", "oo_root")
        .join(merged, "url")
        .groupBy("oo_root")
        .agg(F.min("cluster_id").alias("oo_cid"))
    )
    return (
        merged.join(oo_cc.withColumnRenamed("cluster_id", "oo_root"), "url", "left")
        .join(grp, "oo_root", "left")
        .select("url", F.coalesce("oo_cid", F.col("cluster_id")).alias("cluster_id"))
    )

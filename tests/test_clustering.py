"""Connected components vs a single-node union-find oracle, post-match
semantics, evaluation vs the reference's O(N²) loop."""

import random

import pyspark.sql.functions as F

from whoiswho_spark.operators.clustering import (
    connected_components,
    post_match,
    threshold_edges,
)
from whoiswho_spark.operators.evaluation import pairwise_scores_per_block


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_matches_union_find_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 60
        nodes = [f"n{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(20, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find(edges, nodes)

        edf = spark.createDataFrame(edges, "src string, dst string")
        vdf = spark.createDataFrame([(x,) for x in nodes], "url string")
        got = {
            r["url"]: r["cluster_id"]
            for r in connected_components(edf, vertices=vdf).collect()
        }
        # same partition: compare group structure AND representative (both
        # use component-min, so they must be equal exactly)
        assert got == want, f"trial {trial}"


def test_cc_encode_preserves_string_min_order(spark):
    """Round 6: string node ids run the star loop on dense-long ranks.
    The dictionary must preserve STRING sort order — numeric strings are
    the trap (lexicographic min of {"9","10"} is "10", numeric min is 9).
    A rank built on parsed numbers would relabel the component."""
    edges = [("9", "10"), ("10", "100"), ("zz", "aa")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["url"]: r["cluster_id"] for r in connected_components(edf).collect()
    }
    assert got == {
        "9": "10", "10": "10", "100": "10",  # lexicographic min "10"
        "zz": "aa", "aa": "aa",
    }


def test_cc_encode_loop_parity_forced_iterative(spark):
    """The encoded star loop itself (local finish disabled) must equal
    the union-find oracle on string ids — pins the encode→loop→decode
    round-trip through the DISTRIBUTED path, not just the local tail."""
    rng = random.Random(23)
    nodes = [f"x{i:02d}" for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find(edges, nodes)
    edf = spark.createDataFrame(edges, "src string, dst string")
    vdf = spark.createDataFrame([(x,) for x in nodes], "url string")
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            edf, vertices=vdf, local_finish_threshold=0
        ).collect()
    }
    assert got == want


def test_cc_chain_converges(spark):
    # a long path graph exercises the O(log n) star rounds
    n = 64
    edges = [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n - 1)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(edf).collect()
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(got) == n


def test_cc_mid_stage_resume(spark, tmp_path):
    """CC resumes from the last completed iteration checkpoint: rerun
    with an existing checkpoint dir must not recompute earlier iters
    (mtimes untouched) and must produce identical labels."""
    import os
    import random as _r

    rng = _r.Random(3)
    nodes = [f"n{i:03d}" for i in range(50)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src string, dst string")
    vdf = spark.createDataFrame([(x,) for x in nodes], "url string")
    ckpt = str(tmp_path / "cc")

    first = sorted(
        (r["url"], r["cluster_id"])
        for r in connected_components(edf, vertices=vdf, checkpoint_dir=ckpt).collect()
    )
    iters = sorted(d for d in os.listdir(ckpt) if d.startswith("iter_"))
    assert iters, "expected per-iteration checkpoints"
    mtimes = {d: os.path.getmtime(f"{ckpt}/{d}/_SUCCESS") for d in iters}

    second = sorted(
        (r["url"], r["cluster_id"])
        for r in connected_components(edf, vertices=vdf, checkpoint_dir=ckpt).collect()
    )
    assert first == second
    for d, m in mtimes.items():
        assert os.path.getmtime(f"{ckpt}/{d}/_SUCCESS") == m, f"{d} recomputed"


def test_threshold_edges(spark):
    pairs = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "c", 1.5), ("c", "d", 1.49)],
        "url_a string, url_b string, score double",
    )
    got = {(r["src"], r["dst"]) for r in threshold_edges(pairs, 1.5).collect()}
    assert got == {("a", "b"), ("b", "c")}  # ≥ threshold, strict cut below


def test_post_match_attach_and_merge(spark):
    # clusters: a,b together; x,y,z outliers.
    clusters = spark.createDataFrame(
        [("a", "C1"), ("b", "C1"), ("x", "X"), ("y", "Y"), ("z", "Z")],
        "url string, cluster_id string",
    )
    pairs = spark.createDataFrame(
        [
            ("x", "a", 2.0),   # x attaches to C1 (best ≥1.5 non-outlier)
            ("x", "b", 1.7),
            ("y", "a", 1.0),   # below threshold → y keeps own cluster
            ("y", "z", 1.8),   # outlier-outlier merge y+z
        ],
        "url_a string, url_b string, score double",
    )
    outliers = spark.createDataFrame([("x",), ("y",), ("z",)], "url string")
    got = {r["url"]: r["cluster_id"] for r in post_match(clusters, pairs, outliers).collect()}
    assert got["a"] == got["b"] == "C1"
    assert got["x"] == "C1"
    assert got["y"] == got["z"] != "C1"


def _ref_pairwise(correct, pred):
    """Reference pairwise_evaluate loop (/root/reference/whoiswho/
    evaluation/SNDeval.py:47-70), as the oracle."""
    TP = TP_FP = TP_FN = 0.0
    n = len(correct)
    for i in range(n):
        for j in range(i + 1, n):
            if correct[i] == correct[j]:
                TP_FN += 1
            if pred[i] == pred[j]:
                TP_FP += 1
            if correct[i] == correct[j] and pred[i] == pred[j]:
                TP += 1
    if TP == 0:
        return 0.0, 0.0, 0.0
    p, r = TP / TP_FP, TP / TP_FN
    return p, r, 2 * p * r / (p + r)


def test_pairwise_scores_match_reference_loop(spark):
    rng = random.Random(5)
    rows = []
    oracle = {}
    for b in range(6):
        n = rng.randint(3, 15)
        truth = [rng.randint(0, 3) for _ in range(n)]
        pred = [rng.randint(0, 3) for _ in range(n)]
        # ensure at least one positive pair so the block is in-scope
        truth[0] = truth[1] = 99
        oracle[f"blk{b}"] = _ref_pairwise(truth, pred)
        for i, (t, p) in enumerate(zip(truth, pred)):
            rows.append((f"blk{b}", f"u{b}_{i}", t, p))
    df = spark.createDataFrame(rows, "block_key string, url string, truth int, pred int")
    got = {
        r["block_key"]: (r["precision"], r["recall"], r["f1"])
        for r in pairwise_scores_per_block(df).collect()
    }
    for b, want in oracle.items():
        for g, w in zip(got[b], want):
            assert abs(g - w) < 1e-12, (b, got[b], want)


def test_cc_max_iter_exhaustion_raises_then_resumes(spark, tmp_path):
    """Exhausting max_iter without a fixpoint must RAISE (never emit
    labels from a non-converged edge set) and must NOT write the
    converged marker; a rerun with a larger max_iter resumes from the
    last checkpointed iteration and produces correct labels."""
    import os

    import pytest

    from whoiswho_spark.operators.clustering import ConvergenceError

    n = 64
    edges = [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(n - 1)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    ckpt = str(tmp_path / "cc_exhaust")

    with pytest.raises(ConvergenceError):
        connected_components(
            edf, checkpoint_dir=ckpt, max_iter=1, local_finish_threshold=0
        )
    assert not os.path.exists(f"{ckpt}/converged/_SUCCESS")
    assert os.path.exists(f"{ckpt}/iter_0/_SUCCESS")
    mtime0 = os.path.getmtime(f"{ckpt}/iter_0/_SUCCESS")

    got = connected_components(
        edf, checkpoint_dir=ckpt, max_iter=25, local_finish_threshold=0
    ).collect()
    assert {r["cluster_id"] for r in got} == {"v000"}
    assert len(got) == n
    assert os.path.exists(f"{ckpt}/converged/_SUCCESS")
    # genuinely resumed: iteration 0 was not recomputed
    assert os.path.getmtime(f"{ckpt}/iter_0/_SUCCESS") == mtime0


def test_cc_stale_checkpoint_invalidated_on_input_change(spark, tmp_path):
    """A checkpoint dir written for one edge set must NOT be reused for a
    different edge set (regenerated edges / changed threshold in the same
    workdir): the input checksum keys the state."""
    ckpt = str(tmp_path / "cc_shared")
    e1 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got1 = {
        r["url"]: r["cluster_id"]
        for r in connected_components(e1, checkpoint_dir=ckpt).collect()
    }
    assert got1 == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    # different edges, SAME dir → must recompute, not return got1
    e2 = spark.createDataFrame([("a", "x"), ("b", "y")], "src string, dst string")
    got2 = {
        r["url"]: r["cluster_id"]
        for r in connected_components(e2, checkpoint_dir=ckpt).collect()
    }
    assert got2 == {"a": "a", "x": "a", "b": "b", "y": "b"}

    # resume=False wipes even with identical input (fresh recompute)
    import os

    got3 = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            e2, checkpoint_dir=ckpt, resume=False
        ).collect()
    }
    assert got3 == got2
    assert os.path.exists(f"{ckpt}/converged/_SUCCESS")


def test_bond_threshold_case_matrix(spark):
    """BOND a/o/v case matrix (bond/dataset/load_data.py:93-171): each
    relation contributes iff over threshold (o gated by attr_o ≥ coo_th,
    v by the prob gate — disabled here with prob_v=0.0); all-below rows
    vanish; single-relation modes keep that relation's value as attr."""
    from whoiswho_spark.operators.bond_edges import bond_threshold_edges

    rows = [
        # src, dst, val_a, val_o, attr_o, val_v, attr_v
        (1, 2, 3, 2, 0.9, 5, 0.7),   # a,o,v all pass
        (1, 3, 3, 2, 0.9, 0, 0.7),   # a,o
        (1, 4, 3, 0, 0.9, 5, 0.7),   # a,v
        (1, 5, 3, 2, 0.1, 0, 0.7),   # a only (o killed by coo gate)
        (1, 6, 0, 2, 0.9, 5, 0.7),   # o,v
        (1, 7, 0, 2, 0.9, 1, 0.7),   # o only (v at threshold, not over)
        (1, 8, 1, 0, 0.9, 5, 0.7),   # v only (a at threshold)
        (1, 9, 0, 0, 0.9, 1, 0.7),   # nothing → row dropped
    ]
    e = spark.createDataFrame(
        rows,
        "src bigint, dst bigint, val_a bigint, val_o bigint, attr_o double, "
        "val_v bigint, attr_v double",
    )
    got = {
        r["dst"]: (r["value"], r["attr_a"], r["attr_o"], r["attr_v"])
        for r in bond_threshold_edges(
            e, rel_on="aov", th_a=1, th_o=1, th_v=1, coo_th=0.5, prob_v=0.0
        ).collect()
    }
    assert got == {
        2: (10.0, 3.0, 0.9, 0.7),
        3: (5.0, 3.0, 0.9, 0.0),
        4: (8.0, 3.0, 0.0, 0.7),
        5: (3.0, 3.0, 0.0, 0.0),
        6: (7.0, 0.0, 0.9, 0.7),
        7: (2.0, 0.0, 0.9, 0.0),
        8: (5.0, 0.0, 0.0, 0.7),
    }
    # single-relation mode: value == attr slot == that relation's count
    got_o = {
        r["dst"]: (r["value"], r["attr_o"])
        for r in bond_threshold_edges(e, rel_on="o", th_o=1).collect()
    }
    assert got_o == {d: (2.0, 2.0) for d in (2, 3, 5, 6, 7)}
    # prob gate: prob_v=1.0 kills every v contribution (uniform < 1)
    got_novs = {
        r["dst"]: r["value"]
        for r in bond_threshold_edges(
            e, rel_on="aov", th_a=1, th_o=1, th_v=1, coo_th=0.5, prob_v=1.0
        ).collect()
    }
    assert got_novs == {2: 5.0, 3: 5.0, 4: 3.0, 5: 3.0, 6: 2.0, 7: 2.0}


def test_cc_hybrid_local_finish_equals_iterative(spark):
    """The union-find finishing pass (default local_finish_threshold)
    must produce the identical labeling to the pure-iterative path
    (local_finish_threshold=0) — including component-min cluster ids —
    on a graph with chains, a cycle, singleton vertices, and a star."""
    import random

    rng = random.Random(7)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]          # chain
    edges += [("c0", "c1"), ("c1", "c2"), ("c2", "c0")]                  # cycle
    edges += [("hub", f"s{i}") for i in range(10)]                        # star
    edges += [
        (f"r{rng.randrange(30)}", f"r{rng.randrange(30)}") for _ in range(60)
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    vdf = edf.selectExpr("src as url").union(edf.selectExpr("dst as url")).union(
        spark.createDataFrame([("iso1",), ("iso2",)], "url string")
    )
    hybrid = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edf, vertices=vdf).collect()
    }
    iterative = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            edf, vertices=vdf, local_finish_threshold=0
        ).collect()
    }
    assert hybrid == iterative
    assert hybrid["iso1"] == "iso1" and hybrid["n040"] == "n000"


def _random_string_graph(rng, n_nodes, n_edges):
    """Random string-id graph whose ids include numeric strings, where
    code-point order ("10" < "9") and numeric order disagree."""
    nodes = [str(i) for i in range(n_nodes)] + ["9", "10", "100", "a", "Z", "é"]
    nodes = sorted(set(nodes))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)]
    return nodes, [(a, b) for a, b in edges if a != b]


def test_cc_small_path_parity_skips_encode(spark, tmp_path, monkeypatch):
    """An input within local_finish_threshold runs the union-find on the
    original ids: labels equal the pure-iterative (encoded) path and the
    oracle, including the numeric-string min ("10" < "9"), and the node
    dictionary is never built — with and without a checkpoint dir."""
    from whoiswho_spark.operators import clustering as C

    rng = random.Random(5)
    for trial in range(3):
        nodes, edges = _random_string_graph(rng, 30, rng.randint(15, 60))
        edges += [("9", "10")]
        want = _union_find(edges, nodes)
        edf = spark.createDataFrame(edges, "src string, dst string")
        vdf = spark.createDataFrame([(x,) for x in nodes], "url string")

        def labels(**kw):
            cc = connected_components(edf, vertices=vdf, **kw)
            return {r["url"]: r["cluster_id"] for r in cc.collect()}

        iterative = labels(local_finish_threshold=0)

        def _no_dictionary(_edges):
            raise AssertionError("small path built the node dictionary")

        with monkeypatch.context() as m:
            m.setattr(C, "_node_ranks", _no_dictionary)
            small = labels()
            small_ckpt = labels(checkpoint_dir=str(tmp_path / f"cc{trial}"))
        assert small == small_ckpt == iterative == want, f"trial {trial}"


def test_cc_cross_path_resume_wipes_checkpoints(spark, tmp_path):
    """Small-path iteration files hold the original ids, encoded-loop
    files dense longs. A dir written by one path and resumed by the other
    must be wiped and recomputed (format marker in the input key), never
    read in the wrong format."""
    import json
    import os

    rng = random.Random(9)
    nodes, edges = _random_string_graph(rng, 30, 45)
    want = _union_find(edges, nodes)
    edf = spark.createDataFrame(edges, "src string, dst string")
    vdf = spark.createDataFrame([(x,) for x in nodes], "url string")
    ckpt = str(tmp_path / "cc")

    def labels(**kw):
        cc = connected_components(edf, vertices=vdf, checkpoint_dir=ckpt, **kw)
        return {r["url"]: r["cluster_id"] for r in cc.collect()}

    def marker():
        with open(f"{ckpt}/input_checksum/_SUCCESS") as f:
            return json.load(f)[-1]

    def iter_mtime():
        return os.path.getmtime(f"{ckpt}/iter_0/_SUCCESS")

    assert labels() == want
    assert marker() == "small1"
    assert sorted(d for d in os.listdir(ckpt) if d.startswith("iter_")) == ["iter_0"]
    small_mtime = iter_mtime()

    assert labels(local_finish_threshold=0) == want  # small dir → encoded run
    assert marker() == "enc1"
    assert iter_mtime() != small_mtime  # recomputed, not resumed
    enc_iters = sorted(d for d in os.listdir(ckpt) if d.startswith("iter_"))
    assert len(enc_iters) > 1
    enc_mtime = iter_mtime()

    assert labels() == want  # encoded dir → small run
    assert marker() == "small1"
    assert iter_mtime() != enc_mtime
    assert sorted(d for d in os.listdir(ckpt) if d.startswith("iter_")) == ["iter_0"]

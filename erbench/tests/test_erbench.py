"""Self-test of the ER benchmark.

    python3 -m pytest erbench/tests -q

Checks that the benchmark notices wrong outputs, that its inputs follow
the seed, and that the metric names it prints are the ones BENCHMARK.json
declares. Only ``test_snd_permuted_clusters_fail`` starts Spark.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from erbench import gen  # noqa: E402
from erbench.run import END_TO_END, PER_LAYER, Ledger, e2e_metrics  # noqa: E402
from erbench.workloads import (  # noqa: E402
    RndAssign,
    check_rnd,
    check_snd,
    check_stream,
)


def _stream_truth():
    files = gen.stream_inputs(3, 20, 2)
    urls = sorted(u for f in files for u in f["url"])
    # canonical cluster = min member url of the entity ("/e<id>/v<k>")
    ent = {u: u.rsplit("/", 1)[0] for u in urls}
    canon = {}
    for u in urls:
        canon.setdefault(ent[u], u)
    return {u: canon[ent[u]] for u in urls}


class _Replay:
    """A workload stub whose ops return prepared outputs."""

    name = "stream_er"
    pages_per_op = 10

    def __init__(self, outputs, oracle):
        self.outputs, self.oracle = outputs, oracle

    def op(self, i):
        return self.outputs[i]

    def check(self, got):
        return check_stream(got, self.oracle)


def _metrics(outputs, oracle):
    ledger, walls = Ledger(), []
    wl = _Replay(outputs, oracle)
    for i in range(len(outputs)):
        walls.append(ledger.run(wl, i) + 1.0)
    return e2e_metrics(1.0, walls, [wl.pages_per_op] * len(walls), ledger, 2**20)


def test_stream_corruption_raises_fail_frac_and_lowers_quality():
    truth = _stream_truth()
    ids = list(truth.values())
    random.Random(0).shuffle(ids)
    permuted = dict(zip(truth, ids))
    dropped = dict(truth)
    dropped.pop(next(iter(dropped)))
    good = _metrics([truth, truth], truth)
    bad_perm = _metrics([truth, permuted], truth)
    bad_drop = _metrics([truth, dropped], truth)
    assert good["ok_frac"] == 1.0 and good["quality"] == 1.0
    for bad in (bad_perm, bad_drop):
        assert bad["ok_frac"] == 0.5  # fail_frac 0 -> 0.5
        assert bad["quality"] < good["quality"]


def test_rnd_dropped_and_permuted_assignments():
    expect = {f"u{i}": (f"e{i}" if i < 36 else None) for i in range(48)}
    truth = {u: c for u, c in expect.items() if c is not None}
    ok = check_rnd(truth, expect, RndAssign.ACCURACY_FLOOR)
    assert ok.ok and ok.quality == 1.0
    one_dropped = dict(truth)
    one_dropped.pop("u0")
    assert check_rnd(one_dropped, expect, RndAssign.ACCURACY_FLOOR).quality < 1.0
    many_dropped = {u: c for u, c in truth.items() if int(u[1:]) >= 10}
    assert not check_rnd(many_dropped, expect, RndAssign.ACCURACY_FLOOR).ok
    cids = list(truth.values())
    random.Random(1).shuffle(cids)
    assert not check_rnd(dict(zip(truth, cids)), expect, RndAssign.ACCURACY_FLOOR).ok
    nil_assigned = dict(truth, u40="e0")
    assert check_rnd(nil_assigned, expect, RndAssign.ACCURACY_FLOOR).quality < 1.0


def test_snd_fingerprint_drift_fails():
    want = {"block_rows": 10, "candidate_pairs": 5, "clustered": 8}
    assert check_snd(1.0, 8, 8, dict(want), want).ok
    assert not check_snd(1.0, 8, 8, dict(want, candidate_pairs=6), want).ok
    assert not check_snd(1.0, 7, 8, dict(want), want).ok
    assert not check_snd(0.95, 8, 8, dict(want), want).ok


def test_snd_permuted_clusters_fail(tmp_path):
    """Permuting cluster ids lowers evaluate_run's F1 below the gate."""
    from erbench.run import start_session, stop_session
    from whoiswho_spark.plans.pipeline import evaluate_run

    pages = gen.entity_pages(5, 30)
    wd = str(tmp_path / "wd")
    blocks = pages.assign(block_key=pages["url"].str.extract(r"^https://([^/]+)/")[0])
    gen.write_parquet(blocks[["url", "block_key"]], f"{wd}/blocks/part-0.parquet")
    clusters = pages.assign(cluster_id="e" + pages["entity_id"].astype(str))
    gen.write_parquet(clusters[["url", "cluster_id"]], f"{wd}/clusters/part-0.parquet")
    perm = clusters["cluster_id"].sample(frac=1.0, random_state=0).to_numpy()
    wd2 = str(tmp_path / "wd2")
    shutil.copytree(f"{wd}/blocks", f"{wd2}/blocks")
    gen.write_parquet(
        clusters.assign(cluster_id=perm)[["url", "cluster_id"]],
        f"{wd2}/clusters/part-0.parquet",
    )
    spark = start_session(str(tmp_path / "work"))
    try:
        labels = spark.createDataFrame(pages[["url", "entity_id"]])
        f1_true = evaluate_run(spark, wd, labels)
        f1_perm = evaluate_run(spark, wd2, labels)
    finally:
        stop_session(spark)
    n = len(pages)
    want = {"block_rows": n, "candidate_pairs": 0, "clustered": n}
    assert f1_true == 1.0 and check_snd(f1_true, n, n, want, want).ok
    assert f1_perm < f1_true and not check_snd(f1_perm, n, n, want, want).ok


def test_fingerprint_follows_seed():
    a1 = gen.pages_digest(gen.entity_pages(1, 12))
    a2 = gen.pages_digest(gen.entity_pages(1, 12))
    b = gen.pages_digest(gen.entity_pages(2, 12))
    assert a1 == a2 and a1 != b
    s1 = gen.stream_inputs(1, 12, 2)
    s2 = gen.stream_inputs(2, 12, 2)
    assert set(s1[0]["url"]) != set(s2[0]["url"])
    p1, r1 = gen.rnd_inputs(1, 120, 2, 8, 2)
    p2, r2 = gen.rnd_inputs(2, 120, 2, 8, 2)
    assert gen.pages_digest(p1) != gen.pages_digest(p2)
    assert list(r1[0]["url"]) != list(r2[0]["url"])
    # every request mixes held-out (attach) and unseen (NIL) pages
    assert r1[0]["expect_nil"].sum() == 2
    assert set(r1[0]["url"]).isdisjoint(p1["url"])


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from erbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    shutil.copytree(os.path.join(ROOT, "erbench"), tmp_path / "erbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "erbench/run.py", "--workload", "snd_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))

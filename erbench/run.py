"""ER benchmark: one workload per process, closed loop, one client.

    python3 erbench/run.py --workload snd_batch --seed 1 --seconds 10 --trace 0
    python3 erbench/run.py --workload snd_batch --seed 1 --seconds 10 --repeat 10

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end set, with ``--trace 1`` the
per-layer set (see ``erbench/README.md``). ``--repeat N`` runs the
workload N times in fresh processes with seeds seed..seed+N-1 and prints
each end-to-end metric's median, quartiles and spread against its bound
from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics (name -> unit), reported with tracing off
END_TO_END = {
    "setup_s": "s",
    "wall_p50_s": "s",
    "items_per_s": "1/s",
    "quality": "ratio",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
# per-layer metrics (name -> unit), reported by the traced run; a layer
# the workload never calls reads 0
PER_LAYER = {
    "functions.normalize.extract_s": "s",
    "operators.blocking.blocks_s": "s",
    "operators.blocking.block_rows": "count",
    "operators.blocking.max_block_size": "count",
    "operators.blocking.profile_keys_s": "s",
    "operators.pairs.pairs_s": "s",
    "operators.pairs.candidate_pairs": "count",
    "operators.pairs.pairs_per_page": "ratio",
    "operators.scoring.score_s": "s",
    "operators.scoring.pairs_per_s": "1/s",
    "operators.clustering.edges_s": "s",
    "operators.clustering.edge_yield": "ratio",
    "operators.clustering.cc_s": "s",
    "operators.clustering.components": "count",
    "plans.metrics.checkpoint_s": "s",
    "operators.rnd.top1_s": "s",
    "operators.rnd.nil_frac": "ratio",
    "plans.rnd_pipeline.assign_s": "s",
    "streaming.incremental_er.drain_s": "s",
    "streaming.incremental_er.micro_batches": "count",
    "streaming.incremental_er.batch_p50_ms": "ms",
    "streaming.incremental_er.state_rows_peak": "count",
    "streaming.incremental_er.events_per_page": "ratio",
    "streaming.incremental_er.final_assignments_s": "s",
    "trace_overhead_frac": "ratio",
    "uncovered_s": "s",
}
# layer spans whose self times add up to the untraced op, per workload
COVERAGE = {
    "snd_batch": [
        "functions.normalize.extract", "operators.blocking.blocks",
        "operators.pairs.pairs", "operators.scoring.score",
        "operators.clustering.edges", "operators.clustering.cc",
    ],
    "rnd_assign": ["functions.normalize.extract", "plans.rnd_pipeline.assign"],
    "stream_er": ["streaming.incremental_er.drain"],
}
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session(work: str):
    from whoiswho_spark.session import get_spark

    # keep every file Spark and its workers write inside the work dir
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    return get_spark(
        app_name="erbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            # fixed heap (initial = max), so peak RSS does not depend on
            # when the collector decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Ledger:
    """Outcome of every checked op."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.quality: list[float] = []

    def run(self, wl, i: int) -> float:
        """Run op ``i`` and check it; returns the op's wall time."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            res = wl.op(i)
        except Exception:
            wall = time.monotonic() - t0
            traceback.print_exc()
            self.failed += 1
            self.quality.append(0.0)
            return wall
        wall = time.monotonic() - t0
        try:
            chk = wl.check(res)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.quality.append(0.0)
            return wall
        self.quality.append(chk.quality)
        if not chk.ok:
            self.failed += 1
            print(f"[erbench] op {i} wrong: {chk.why}", file=sys.stderr)
        return wall


def e2e_metrics(setup_s, walls, pages, ledger, peak_rss) -> dict:
    return {
        "setup_s": setup_s,
        "wall_p50_s": median(walls),
        "items_per_s": sum(pages) / sum(walls),
        "quality": statistics.fmean(ledger.quality),
        "ok_frac": (ledger.attempted - ledger.failed) / ledger.attempted,
        "peak_rss_mb": peak_rss / 2**20,
    }


def timed_phase(wl, first_op: int, seconds: float, ledger: Ledger):
    from erbench.spans import RssSampler

    walls, pages = [], []
    i = first_op
    with RssSampler() as rss:
        while sum(walls) < seconds or len(walls) < wl.min_ops:
            walls.append(ledger.run(wl, i))
            pages.append(wl.pages_per_op)
            i += 1
    return walls, pages, rss.peak


def traced_phase(wl, first_op: int, seconds: float, ledger: Ledger) -> dict:
    """Alternate untraced and traced ops (at least one of each) until
    ``seconds`` of op wall time are spent; per-layer numbers are medians
    over the traced ops."""
    from erbench.spans import Tracer

    tr = Tracer()
    untraced, traced, counters = [], [], []
    i = first_op
    while not untraced or sum(untraced) + sum(traced) < seconds:
        untraced.append(ledger.run(wl, i))
        i += 1
        with tr.span(f"{wl.name}.op", i) as op:
            counters.append(wl.traced_op(i, tr))
        traced.append(op.dur)
        i += 1
    out = {name: 0.0 for name in PER_LAYER}
    names = {s.name for s in tr.spans}
    for name in names:
        if f"{name}_s" in out:
            out[f"{name}_s"] = median(tr.total(name))
    for key in counters[-1]:
        out[key] = median([c[key] for c in counters])
    if out["operators.scoring.score_s"] > 0:
        out["operators.scoring.pairs_per_s"] = (
            out["operators.pairs.candidate_pairs"] / out["operators.scoring.score_s"]
        )
    covered = sum(median(tr.total(n)) for n in COVERAGE[wl.name] if n in names)
    covered += out["plans.metrics.checkpoint_s"]
    out["trace_overhead_frac"] = median(traced) / median(untraced) - 1.0
    out["uncovered_s"] = median(untraced) - covered
    print(
        f"[erbench] traced ops={len(traced)} untraced ops={len(untraced)} "
        f"untraced wall p50={median(untraced):.3f}s covered by layers={covered:.3f}s "
        f"uncovered={out['uncovered_s']:.3f}s",
    )
    return out


def run_once(args) -> int:
    from erbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".erbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = f"{work}/input"
    try:
        info = cls.generate(args.seed, inp)  # load generator: not in setup_s
        t0 = time.monotonic()
        spark = start_session(work)
        try:
            session_s = time.monotonic() - t0
            wl = cls(spark, work)
            t1 = time.monotonic()
            wl.prepare(inp)
            prepare_s = time.monotonic() - t1
            warm = Ledger()
            warm_walls = [warm.run(wl, k) for k in range(cls.warmup_ops)]
            setup_s = session_s + prepare_s + sum(warm_walls)
            ledger = Ledger()
            if args.trace:
                metrics = traced_phase(wl, cls.warmup_ops, args.seconds, ledger)
                units = PER_LAYER
            else:
                walls, pages, peak = timed_phase(wl, cls.warmup_ops, args.seconds, ledger)
                metrics = e2e_metrics(setup_s, walls, pages, ledger, peak)
                units = END_TO_END
                print(
                    f"[erbench] timed ops={len(walls)} walls="
                    f"{[round(w, 3) for w in walls]}"
                )
            print(
                f"[erbench] workload={args.workload} seed={args.seed} "
                f"session_s={session_s:.3f} prepare_s={prepare_s:.3f} "
                f"warmup_walls={[round(w, 3) for w in warm_walls]} "
                f"fingerprint={json.dumps({**info, **wl.fingerprint}, sort_keys=True)}"
            )
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = ledger.failed + warm.failed
    attempted = ledger.attempted + warm.attempted
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def repeat(args) -> int:
    """Run the workload ``args.repeat`` times with consecutive seeds and
    report each end-to-end metric's median, quartiles and spread
    ((q3 - q1) / median) against its BENCHMARK.json bound."""
    bounds = {}
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec):
        with open(spec) as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = []
    for k in range(args.repeat):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(args.seed + k), "--seconds", str(args.seconds), "--trace", "0",
        ]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(p.stderr[-4000:], file=sys.stderr)
            print(f"[erbench] run seed={args.seed + k} exited {p.returncode}")
            return 1
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        runs.append(res)
        print(f"[erbench] seed={args.seed + k} " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()
        ), *[ln for ln in lines if ln.startswith("[erbench] timed")], flush=True)
    summary, wide = {}, []
    for name in END_TO_END:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        spread = (q3 - q1) / q2 if q2 else 0.0
        bound = bounds.get(name)
        summary[name] = {"median": q2, "q1": q1, "q3": q3, "spread": spread, "bound": bound}
        flag = ""
        if bound is not None and name != "setup_s" and spread > bound:
            wide.append(name)
            flag = "  WIDER THAN BOUND"
        elif bound is not None and name != "setup_s" and spread > bound / 3:
            flag = "  wider than bound/3"
        print(
            f"[erbench] {args.workload} {name}: median={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
            f"spread={spread:.4f} bound={bound}{flag}"
        )
    print(json.dumps({
        "workload": args.workload, "runs": len(runs),
        "all_correct": all(r["correct"] for r in runs),
        "wider_than_bound": wide, "metrics": summary,
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import whoiswho_spark  # noqa: F401
        from erbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"[erbench] cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"[erbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.repeat:
        return repeat(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())

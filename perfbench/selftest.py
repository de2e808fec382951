#!/usr/bin/env python3
"""Self-tests for the benchmark.  Run from the repository root:

    python3 perfbench/selftest.py           # everything, about five minutes
    python3 perfbench/selftest.py --fast    # skip the Spark runs

1. the correctness gate fires: a corrupted output (one flipped
   cluster_id, one dropped edge) counts as a failed operation, and the
   flipped label lowers dup_pair_recall;
2. the closed loop ends, with the failure recorded, when the program
   raises;
3. for every workload in BENCHMARK.json, on a tiny corpus, ``--trace 0``
   and ``--trace 1`` print exactly the metrics BENCHMARK.json names, with
   their units, and pass the gate;
4. without the program beside it, run.py exits non-zero and prints no
   result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def tiny_expected(n: int = 80):
    from perfbench import expected
    from perfbench.workloads import BOILERPLATE_SHAPE
    from sparkdedup.config import DedupConfig
    from sparkdedup.io.webtext import generate_webtext

    texts = generate_webtext(n, seed=5, **BOILERPLATE_SHAPE)["text"].tolist()
    exp = expected.oracle_expected(texts, DedupConfig())
    assert len(exp.edges) > 0, "tiny corpus has no edges"
    return exp


class FakeOp:
    """A one-operation pass over the tiny corpus; ``outputs`` are what the
    operations return, in order, and an exception in it is raised."""

    def __init__(self, exp, outputs):
        from perfbench.workloads import Workload

        self.exp, self.outputs = exp, outputs
        self.w = Workload("fake", {}, exp.n)
        self.k, self.pass_len, self.count = 1, 1, 0

    def docs(self):
        return self.exp.n

    def run(self, ckpt_factory=None):
        self.count += 1
        out = self.outputs.pop(0)
        if isinstance(out, BaseException):
            raise out
        return {"span": (0, self.exp.n), "out": out}

    def result(self, h):
        return h["out"]

    def stored_ratio(self, h):
        return 1.0

    def cleanup(self, h):
        pass


def fake_bench(exp, outputs, seconds=0.0):
    from perfbench.expected import compare
    from perfbench.run import Bench

    def expect(span, e, a, with_certainty):
        return compare(exp, e, a, with_certainty)

    return Bench(SimpleNamespace(seconds=seconds), None, FakeOp(exp, outputs), expect)


def exact_output(exp):
    import pandas as pd

    edges = pd.DataFrame({"src": exp.edges[:, 0], "dst": exp.edges[:, 1], "sim": exp.sims})
    assign = pd.DataFrame({"doc_id": range(exp.n), "cluster_id": exp.labels,
                           "certainty": exp.certainty})
    return edges, assign


def check_gate_fires(exp) -> None:
    from perfbench.run import end_to_end

    edges, assign = exact_output(exp)
    moved = int(next(d for d in range(exp.n) if exp.labels[d] != d))
    flipped = assign.copy()
    flipped.loc[moved, "cluster_id"] = moved
    bench = fake_bench(exp, [(edges, assign), (edges, flipped), (edges.iloc[1:], assign)])
    recs = [bench.measure() for _ in range(3)]
    assert [bool(r["problems"]) for r in recs] == [False, True, True], recs
    assert end_to_end(1.0, recs)["dup_pair_recall"] < 1.0
    assert end_to_end(1.0, recs[:1])["dup_pair_recall"] == 1.0


class Runaway(BaseException):
    """Raised when the loop keeps going after a failure."""


def check_loop_ends_on_failure(exp) -> None:
    ok = exact_output(exp)
    outputs = [ok, ok, RuntimeError("boom")] + [Runaway()] * 100
    bench = fake_bench(exp, outputs, seconds=60.0)
    recs = bench.loop()
    assert [bool(r["problems"]) for r in recs] == [False, False, True], recs
    assert "boom" in recs[-1]["problems"][0] and recs[-1]["wall"] >= 0.0, recs[-1]


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.1"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_metrics_printed() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            p = run_bench(ROOT, w["name"], trace)
            assert p.returncode == 0, p.stderr[-3000:]
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (w["name"], trace, set(want) ^ set(got))
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            print(f"ok: {w['name']} --trace {trace}", flush=True)


def check_fails_without_program() -> None:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = run_bench(bare, "designpoint", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0, p.stdout
    assert '"metrics"' not in p.stdout, p.stdout


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true", help="skip the Spark runs")
    fast = ap.parse_args().fast
    exp = tiny_expected()
    check_gate_fires(exp)
    print("ok: gate fires", flush=True)
    check_loop_ends_on_failure(exp)
    print("ok: loop ends on failure", flush=True)
    check_fails_without_program()
    print("ok: fails without the program", flush=True)
    if not fast:
        check_metrics_printed()
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The sparkdedup benchmark: seeded webtext corpora through the public API.

Run from the repository root:

    python3 perfbench/run.py --workload designpoint --seed 1 --seconds 8 --trace 0

One run:
  1. generates the workload's corpus from ``--seed`` and computes the
     oracle's expected output (both cached under ``.perfbench/``);
  2. set-up (``setup_s``): starts the Spark session and runs one pass of
     the workload's own operation on a tiny fixed corpus;
  3. runs operations in a closed loop, one caller, in whole passes for
     ``--seconds``, checking every output against the oracle;
  4. with ``--trace 1``, also runs one traced pass and a counting pass,
     and reports per-layer metrics instead of end-to-end ones.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it records host health, per-operation walls and failures.
Metric names and units come from BENCHMARK.json; perfbench/README.md says
what each one measures and which layer metric should move which
end-to-end metric.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="Spark runs on local[cores] (default: all usable cores)")
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size multiplier (the self-tests use tiny corpora)")
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, spark, op, expect, joblog=None):
        self.args, self.spark, self.op, self.expect = args, spark, op, expect
        self.joblog = joblog  # set: read each operation's Spark jobs after it
        self.incremental = op.w.incremental
        self.records: list[dict] = []

    def measure(self, tracer=None) -> dict:
        """One timed operation, then its untimed check.  Every attempt
        records its wall time, a failed one too."""
        from perfbench.sparkstats import PeakRss, summarize
        from sparkdedup.hosthealth import tree_cpu

        op, h = self.op, None
        rec = {"docs": op.docs(), "pass": op.count // op.pass_len}
        if self.spark is not None:
            # start every operation from a collected heap, so one
            # operation's garbage is not charged to the next
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
        cpu0, t0 = tree_cpu(), time.time()
        try:
            with PeakRss() as rss:
                if tracer is None:
                    h = op.run()
                elif self.incremental:
                    tracer.begin("incremental", time.time())
                    h = op.run()
                else:
                    from perfbench.spans import span_checkpoints

                    h = op.run(span_checkpoints(tracer, time.time))
            t1 = time.time()
            if tracer is not None:
                tracer.end(t1)
            rec.update(wall=t1 - t0, cpu=tree_cpu() - cpu0, rss=rss.peak, t0=t0, t1=t1)
            if self.joblog is not None:
                # right after the operation, before the status store can
                # evict its jobs and stages
                jobs = self.joblog.jobs_between(t0, t1)
                rec.update(job_list=jobs, job_summary=summarize(jobs, t0, t1))
            edges, assign = op.result(h)
            problems, recall = self.expect(h["span"], edges, assign, not self.incremental)
            rec.update(problems=problems, recall=recall, stored=op.stored_ratio(h),
                       edges_n=len(edges), assign=assign, handle=h)
        except Exception:
            rec.setdefault("wall", time.time() - t0)
            rec["problems"] = [traceback.format_exc()]
        for p in rec["problems"]:
            print(f"perfbench: operation {len(self.records)} failed: {p}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def release(self, rec):
        h = rec.pop("handle", None)
        rec.pop("assign", None)
        if h is not None:
            self.op.cleanup(h)

    def loop(self) -> list[dict]:
        """Closed loop of whole passes, at least two operations, until the
        operations' wall time reaches --seconds (the untimed checks between
        them do not count), or until the first failed operation."""
        out, busy = [], 0.0
        while True:
            rec = self.measure()
            self.release(rec)
            out.append(rec)
            if rec["problems"]:
                return out
            busy += rec["wall"]
            op = self.op
            if busy >= self.args.seconds and op.k == op.pass_len and op.count >= 2:
                return out


def good_passes(recs: list[dict]) -> list[list[dict]]:
    """The passes whose operations all passed the gate."""
    passes: dict[int, list[dict]] = {}
    for r in recs:
        passes.setdefault(r["pass"], []).append(r)
    return [p for p in passes.values() if not any(r["problems"] for r in p)]


def fastest(passes: list[list[dict]]) -> list[dict]:
    """The fastest pass: on a shared host, the one least disturbed by other
    tenants (the min-over-passes rule bench.py uses)."""
    return max(passes, key=lambda p: sum(r["docs"] for r in p) / sum(r["wall"] for r in p),
               default=[])


def end_to_end(setup_s: float, recs: list[dict]) -> dict:
    """Throughput comes from the fastest good pass and CPU from the good
    pass that used least, by the same min-over-passes rule: contention
    from other tenants inflates CPU too (spinning on descheduled CPUs).
    Memory is the peak and stored bytes the mean over every good pass.
    All are 0 when no pass passed the gate."""
    passes = good_passes(recs)
    good, best = [r for p in passes for r in p], fastest(passes)
    return {
        "docs_per_s": sum(r["docs"] for r in best) / sum(r["wall"] for r in best) if best else 0.0,
        "cpu_s": min((sum(r["cpu"] for r in p) / len(p) for p in passes), default=0.0),
        "peak_rss_mb": max((r["rss"] for r in good), default=0) / (1 << 20),
        "stored_bytes_per_input_byte": sum(r["stored"] for r in good) / max(len(good), 1),
        "setup_s": setup_s,
        "dup_pair_recall": min(r.get("recall", 0.0) for r in recs),
    }


def per_layer(bench: Bench, untraced: list[dict]) -> dict:
    from perfbench.spans import Tracer, count_layers, span_metrics

    ops = [r["job_summary"] for r in untraced if "job_summary" in r]
    out = {
        f"pipeline.{k}": statistics.median(o[k] for o in ops) if ops else 0
        for k in ("jobs", "stages", "tasks", "driver_gap_s")
    }
    tracer = Tracer()
    traced = []
    for _ in range(bench.op.pass_len):
        traced.append(bench.measure(tracer))
        if traced[-1]["problems"]:
            break
    last = traced[-1]
    if not last["problems"]:
        jobs = [j for r in traced for j in r["job_list"]]
        out.update(span_metrics(tracer.spans, jobs))
        sigs, ckpt, state_dir = bench.op.state(last["handle"])
        out.update(count_layers(bench.spark, bench.op.config, sigs, last["edges_n"],
                                last["assign"], ckpt, state_dir))
        # against the fastest untraced pass, the same rule as docs_per_s
        best = fastest(good_passes(untraced))
        traced_wall = sum(r["wall"] for r in traced)
        span_wall = sum(t1 - t0 for _, t0, t1 in tracer.spans)
        out["trace_overhead_s"] = (traced_wall - sum(r["wall"] for r in best)) / len(traced)
        out["trace.span_coverage"] = span_wall / traced_wall
    for rec in traced:
        bench.release(rec)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sparkdedup.pipeline
        import tests.oracle
    except ImportError as ex:
        print(f"perfbench: the program under test is not importable from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    for mod in (sparkdedup.pipeline, tests.oracle):
        if not os.path.abspath(mod.__file__).startswith(ROOT + os.sep):
            print(f"perfbench: {mod.__name__} was imported from outside {ROOT}",
                  file=sys.stderr)
            return 2
    from perfbench import expected, sparkstats
    from perfbench.workloads import (
        SETUP_DOCS, SETUP_SEED, WORKLOADS, make_corpus, make_op,
    )
    from sparkdedup.hosthealth import box_cpu, tree_cpu

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload].sized(args.scale)
    config = w.dedup_config()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")

    # inputs and expected output: outside set-up and outside timed runs
    corpus = make_corpus(w, args.seed, ROOT, work)
    spans = [corpus.span(k) for k in range(w.parts)]
    expect_by_span = dict(zip(spans, expected.cached_prefixes(
        corpus.dir, corpus.texts, [hi for _, hi in spans], config)))
    # set-up runs the workload's own operation, so the timed passes start
    # with its code paths compiled and its Python workers up
    setup_w = dataclasses.replace(w, name="setup", docs=SETUP_DOCS // w.parts)
    setup_corpus = make_corpus(setup_w, SETUP_SEED, ROOT, work)

    def expect(span, edges, assign, with_certainty):
        return expected.compare(expect_by_span[span], edges, assign, with_certainty)

    os.makedirs(run_dir, exist_ok=True)
    py_zip = sparkstats.package_zip(ROOT, os.path.join(run_dir, "sparkdedup.zip"))
    load_before = os.getloadavg()
    t0 = time.perf_counter()
    spark = sparkstats.start_session(args.cores, os.path.join(run_dir, "spark-local"), py_zip)
    try:
        setup_op = make_op(spark, setup_w, setup_corpus, os.path.join(run_dir, "setup"))
        handles = [setup_op.run() for _ in range(setup_op.pass_len)]
        setup_s = time.perf_counter() - t0
        for h in handles:
            setup_op.cleanup(h)
        setup_op.close()

        op = make_op(spark, w, corpus, run_dir)
        bench = Bench(args, spark, op, expect, sparkstats.JobLog(spark) if args.trace else None)
        b0, s0, all0 = box_cpu()
        c0, w0 = tree_cpu(), time.time()
        untraced = bench.loop()
        b1, s1, all1 = box_cpu()
        c1, w1 = tree_cpu(), time.time()
        if args.trace:
            metrics = per_layer(bench, untraced)
        else:
            metrics = end_to_end(setup_s, untraced)
        op.close()
    finally:
        sparkstats.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    recs = bench.records
    failed = sum(1 for r in recs if r["problems"])
    window = max(w1 - w0, 1e-9)
    print(json.dumps({
        "workload": w.name, "seed": args.seed, "docs": sum(corpus.docs), "cores": args.cores,
        "setup_s": round(setup_s, 4),
        "failed_ratio": failed / len(recs),
        "op_walls_s": [round(r["wall"], 4) for r in recs],
        "op_cpu_s": [round(r["cpu"], 2) for r in recs if "cpu" in r],
        "host_health": {
            "loadavg_before": [round(x, 2) for x in load_before],
            "steal_pct": round(100.0 * (s1 - s0) / max(all1 - all0, 1e-9), 2),
            "other_cores": round(max((b1 - b0) - (c1 - c0), 0.0) / window, 2),
        },
    }))
    section = "per_layer" if args.trace else "end_to_end"
    missing = [m["name"] for m in spec[section] if m["name"] not in metrics]
    if missing and not failed:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 3
    # a failed traced operation leaves its layers unmeasured: report 0
    metrics.update(dict.fromkeys(missing, 0.0))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec[section]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

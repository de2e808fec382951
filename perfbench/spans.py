"""The traced run: spans around the pipeline's own stage boundaries, and
the counting pass.

A batch workload's traced operation is the same ``DedupPipeline.run``
call as its untraced one, with the pipeline's ``CheckpointManager``
replaced by a subclass whose top-level ``stage()`` calls mark span
boundaries.  ``stage()`` is the pipeline's cut point for every stage, so
the traced run takes exactly ``run()``'s routing (strategy, fused gate,
cuts) and cannot drift from it.  A span runs from the start of its stage
call to the start of the next one, so work a stage leaves lazy is
reported in the span whose action executes it: in memory mode the
normalize stage only marks a persist, and its scan and preprocess UDF
run inside ``signatures``; the fused edges execute at ``run()``'s eager
cut right after the ``06_edges`` call; the certainty join executes in
the result write that closes the ``certainty`` span.  Nested stage calls
(the durable CC loop's round tables) stay inside their caller's span.
"""

from __future__ import annotations

import statistics

from perfbench.sparkstats import summarize

SPANS = (
    "preprocess",
    "signatures",
    "pairs_verify",
    "pairs",
    "verify",
    "connected_components",
    "certainty",
    "incremental",
)
SPAN_FIELDS = (
    "wall_s",
    "self_s",
    "driver_gap_s",
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
)
_SPAN_OF_STAGE = {
    "01_normalize": "preprocess",
    "03_signatures": "signatures",
    "05_pairs": "pairs",
    "08_assignments": "connected_components",
    "09_final": "certainty",
}


class Tracer:
    """Flat, in-memory spans: [name, start, end] in epoch seconds."""

    def __init__(self):
        self.spans: list[list] = []
        self._depth = 0

    def begin(self, name: str, now: float) -> None:
        self.end(now)
        self.spans.append([name, now, None])

    def end(self, now: float) -> None:
        if self.spans and self.spans[-1][2] is None:
            self.spans[-1][2] = now

    def stage_call(self, stage: str, call, clock):
        if self._depth == 0:
            if stage == "06_edges":
                staged = any(s[0] == "pairs" for s in self.spans)
                name = "verify" if staged else "pairs_verify"
            else:
                name = _SPAN_OF_STAGE.get(stage, stage)
            self.begin(name, clock())
        self._depth += 1
        try:
            return call()
        finally:
            self._depth -= 1


def span_checkpoints(tracer: Tracer, clock):
    """Factory for a ``CheckpointManager`` that reports stage calls to
    ``tracer``; plug it in as ``DedupPipeline.ckpt``."""
    from sparkdedup.checkpoint import CheckpointManager

    class SpanCheckpoints(CheckpointManager):
        def stage(self, name, build, cache=False, cut=False):
            return tracer.stage_call(
                name,
                lambda: CheckpointManager.stage(self, name, build, cache=cache, cut=cut),
                clock,
            )

    return lambda spark, root: SpanCheckpoints(spark, root)


def span_metrics(spans: list[list], jobs: list[dict]) -> dict:
    """Per span name, the median over its instances of each SPAN_FIELDS
    value.  A job belongs to the span it was submitted in (job times
    have millisecond resolution).  Spans are flat, so self time equals
    wall time."""
    per_name: dict[str, list[dict]] = {}
    for name, t0, t1 in spans:
        mine = [j for j in jobs if t0 - 0.001 <= j["start"] < t1 - 0.001]
        s = summarize(mine, t0, t1)
        s["self_s"] = s["wall_s"]
        per_name.setdefault(name, []).append(s)
    out = {}
    for name in SPANS:
        inst = per_name.get(name, [])
        for f in SPAN_FIELDS:
            out[f"{name}.{f}"] = statistics.median(s[f] for s in inst) if inst else 0
    return out


def count_layers(spark, config, sigs, edges_n: int, assign, ckpt, state_dir) -> dict:
    """Counters the spans cannot show, taken outside the timed region from
    the traced operation's outputs."""
    from pyspark.sql import functions as F

    from sparkdedup.operators.bands import explode_bands
    from sparkdedup.pipeline import DedupPipeline
    from perfbench.workloads import du

    b, r = config.bands_rows()
    bands = explode_bands(sigs, b, r)
    candidates = DedupPipeline(spark, config).pairs(sigs).count()
    stages = ckpt.list_stages() if ckpt is not None else []
    return {
        "preprocess.rows_out": sigs.count(),
        "bands.rows_out": bands.count(),
        "bands.multi_buckets": bands.groupBy("band_key").count().where(F.col("count") >= 2).count(),
        "pairs.candidates": candidates,
        "verify.edges_out": edges_n,
        "verify.useful_ratio": edges_n / candidates if candidates else 0.0,
        "connected_components.clusters": int(assign["cluster_id"].nunique()),
        "connected_components.rounds": sum(s.startswith("cc_round_") for s in stages),
        "checkpoint.bytes_written": du(ckpt.root) if ckpt is not None else 0,
        "checkpoint.tables": len(stages),
        "incremental.state_bytes": du(state_dir),
    }

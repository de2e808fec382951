"""Workload definitions: seeded corpora and the operations run on them.

Every workload uses the reference config (``DedupConfig()`` defaults:
threshold 0.3, shingle 6, num_perm 64, seed 42) plus at most the overrides
listed here.  The corpus comes from ``sparkdedup.io.webtext
.generate_webtext`` with the workload seed; the program reads only the
generated parquet.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
from dataclasses import dataclass, field

WEBPAGE_SHAPE = {"words_range": (60, 140), "vocab_size": 8000, "max_group_size": 8}
BOILERPLATE_SHAPE = {"words_range": (20, 80), "vocab_size": 60, "max_group_size": 100}
# short pages over a small vocabulary, in small groups: some LSH candidates
# are false (so verify filters), while the work per corpus stays close
# across seeds.  BOILERPLATE_SHAPE's candidate count swings by about 40%
# from seed to seed (the 60-word vocabulary is one draw per corpus), which
# no affordable corpus size averages out.
TEMPLATE_SHAPE = {"words_range": (20, 80), "vocab_size": 400, "max_group_size": 8}


@dataclass(frozen=True)
class Workload:
    """A pass is ``parts`` operations over one corpus of ``docs * parts``
    docs.  A batch workload has one part, one ``run()``; the incremental
    workload splits the corpus into ``parts`` equal doc_id batches and
    ingests them in order."""

    name: str
    shape: dict
    docs: int  # per part
    parts: int = 1
    config: dict = field(default_factory=dict)
    durable: bool = False  # run() with a parquet checkpoint_dir
    incremental: bool = False

    def dedup_config(self):
        from sparkdedup.config import DedupConfig

        return DedupConfig(**self.config)

    def sized(self, scale: float) -> "Workload":
        return dataclasses.replace(self, docs=max(20, int(self.docs * scale)))


WORKLOADS = {
    w.name: w
    for w in (
        # the two workloads BENCHMARK.json names
        Workload(
            "designpoint",
            TEMPLATE_SHAPE,
            docs=600,
            config={"verify_broadcast_max_bytes": None},
            durable=True,
        ),
        Workload("incremental", WEBPAGE_SHAPE, docs=300, parts=2, incremental=True),
        # memory-mode run() on the fused path, for manual runs
        Workload("boilerplate", BOILERPLATE_SHAPE, docs=3000),
        Workload("webpages", WEBPAGE_SHAPE, docs=5000),
    )
}

# set-up corpus: tiny, fixed, the same for every run
SETUP_SEED, SETUP_DOCS = 0, 200


def du(path: str | None) -> int:
    """Bytes of regular files under ``path`` (0 when absent)."""
    if path is None or not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@dataclass
class Corpus:
    dir: str
    files: list  # one parquet per part
    docs: list  # docs per part
    texts: list  # every part's texts, in part order

    def span(self, k: int) -> tuple[int, int]:
        """Range of ``texts`` (= doc_ids) the output after part ``k`` covers."""
        return 0, sum(self.docs[: k + 1])


def make_corpus(w: Workload, seed: int, root: str, work: str) -> Corpus:
    """Generate (or reuse) the corpus parts for (workload, seed).  The directory
    name folds in the generator's and the oracle's source, so a changed
    generator or oracle never reuses a stale corpus or cached signatures."""
    import pandas as pd

    from sparkdedup.io.webtext import generate_webtext

    src = hashlib.sha256()
    for rel in ("sparkdedup/io/webtext.py", "tests/oracle.py"):
        with open(os.path.join(root, rel), "rb") as f:
            src.update(f.read())
    src.update(repr((w, seed)).encode())
    d = os.path.join(work, "corpora", f"{w.name}-s{seed}-{src.hexdigest()[:16]}")
    files = [os.path.join(d, f"part-{k:03d}.parquet") for k in range(w.parts)]
    if not all(os.path.exists(f) for f in files):
        os.makedirs(d, exist_ok=True)
        whole = generate_webtext(w.docs * w.parts, seed=seed, **w.shape)
        parts = [whole.iloc[k * w.docs : (k + 1) * w.docs] for k in range(w.parts)]
        for f, pdf in zip(files, parts):
            pdf = pdf.rename_axis("doc_id").reset_index()[["doc_id", "url", "text"]]
            pdf.to_parquet(f + ".tmp", index=False)
            os.replace(f + ".tmp", f)
    texts = [pd.read_parquet(f, columns=["text"])["text"].tolist() for f in files]
    return Corpus(d, files, [len(t) for t in texts], [t for ts in texts for t in ts])


# --- operations ----------------------------------------------------------


class _PassOp:
    """Cycles through the corpus parts; ``k`` is the next part, and
    ``k == pass_len`` marks the end of a pass."""

    def __init__(self, spark, w: Workload, corpus: Corpus, run_dir: str):
        self.spark, self.w, self.corpus, self.run_dir = spark, w, corpus, run_dir
        self.config = w.dedup_config()
        self.pass_len = len(corpus.files)
        self.k = 0
        self.count = 0

    def docs(self) -> int:
        return self.corpus.docs[self.k % self.pass_len]

    def _next(self) -> tuple[int, int]:
        """(part, operation number) of the operation about to run."""
        k = self.k % self.pass_len
        self.k, self.count = k + 1, self.count + 1
        return k, self.count - 1


class BatchOp(_PassOp):
    """One operation: ``DedupPipeline.run`` over one part, with the
    assignments written as parquet.  Edges come back already materialized
    by run()."""

    def run(self, ckpt_factory=None):
        """Returns a handle for result(), stored_ratio(), state() and cleanup()."""
        from sparkdedup.pipeline import DedupPipeline

        k, i = self._next()
        ckpt_dir = os.path.join(self.run_dir, f"ckpt-{i}") if self.w.durable else None
        out_dir = os.path.join(self.run_dir, f"out-{i}")
        pipe = DedupPipeline(self.spark, self.config, checkpoint_dir=ckpt_dir)
        if ckpt_factory is not None:
            pipe.ckpt = ckpt_factory(self.spark, ckpt_dir)
        out = pipe.run(self.spark.read.parquet(self.corpus.files[k]))
        out["assignments"].write.mode("overwrite").parquet(out_dir)
        return {"pipe": pipe, "out": out, "out_dir": out_dir, "ckpt_dir": ckpt_dir,
                "span": self.corpus.span(k),
                "input_bytes": du(self.corpus.files[k])}

    def result(self, h):
        """(edges, assignments) as pandas, for the correctness gate."""
        import pandas as pd

        return h["out"]["edges"].toPandas(), pd.read_parquet(h["out_dir"])

    def stored_ratio(self, h) -> float:
        return (du(h["out_dir"]) + du(h["ckpt_dir"])) / h["input_bytes"]

    def state(self, h):
        """(signatures, ckpt manager or None, state dir) for the counting pass."""
        return h["out"]["signatures"], h["pipe"].ckpt, None

    def cleanup(self, h):
        self.spark.catalog.clearCache()
        shutil.rmtree(h["out_dir"], ignore_errors=True)
        if h["ckpt_dir"]:
            shutil.rmtree(h["ckpt_dir"], ignore_errors=True)

    def close(self):
        pass


class IncrementalOp(_PassOp):
    """One operation: one ``IncrementalDedup.ingest_batch``.  A pass
    ingests every batch in order into a fresh ``state_dir``; the first
    operation of a pass also constructs the ``IncrementalDedup``."""

    inc = None

    def run(self, ckpt_factory=None):
        from sparkdedup.incremental import IncrementalDedup

        k, _ = self._next()
        if k == 0:
            self.state_dir = os.path.join(self.run_dir, f"state-{self.count}")
            self.inc = IncrementalDedup(self.spark, self.config, state_dir=self.state_dir)
        assign = self.inc.ingest_batch(self.spark.read.parquet(self.corpus.files[k]), batch_id=k)
        return {"assign": assign, "span": self.corpus.span(k), "last": k == self.pass_len - 1,
                "input_bytes": sum(du(f) for f in self.corpus.files[: k + 1])}

    def result(self, h):
        return self.inc.edges.toPandas(), h["assign"].toPandas()

    def stored_ratio(self, h) -> float:
        return du(self.state_dir) / h["input_bytes"]

    def state(self, h):
        return self.inc.signatures, None, self.state_dir

    def cleanup(self, h):
        """After the last batch of a pass, untimed: drop its state."""
        if h["last"]:
            self.close()

    def close(self):
        if self.inc is not None:
            self.spark.catalog.clearCache()
            shutil.rmtree(self.state_dir, ignore_errors=True)
            self.inc = None


def make_op(spark, w: Workload, corpus: Corpus, run_dir: str):
    return (IncrementalOp if w.incremental else BatchOp)(spark, w, corpus, run_dir)

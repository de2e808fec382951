"""Expected outputs from the independent oracle, and the correctness gate.

The oracle is ``tests/oracle.py`` ``cluster_ref``: a row-at-a-time
re-implementation of the reference algorithm that shares no code with
``sparkdedup``.  It runs once per (corpus, prefix) — one prefix per
incremental batch, the whole corpus otherwise — and its result is cached
beside the generated corpus, so a repeated (workload, seed) pays it once.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

import numpy as np

from tests import oracle


@dataclass
class Expected:
    """Oracle result over docs 0..n-1 (doc_id == row index)."""

    n: int
    edges: np.ndarray  # (e, 2) int64, src < dst, sorted
    sims: np.ndarray  # (e,) float64, aligned with edges
    labels: np.ndarray  # (n,) int64 canonical: min doc_id of the cluster
    certainty: np.ndarray  # (n,) float64


def oracle_expected(texts: list, config) -> Expected:
    """``cluster_ref`` on ``texts`` with the config's parameters."""
    assign, edges, certainty = oracle.cluster_ref(
        texts, config.threshold, config.shingle_size, config.num_perm, config.seed,
        config.preprocess_options(),
    )
    n = len(texts)
    return from_ref(n, edges, [assign[d] for d in range(n)], [certainty[d] for d in range(n)])


def cached_expected(corpus_dir: str, texts: list, config) -> Expected:
    """``oracle_expected`` cached in ``corpus_dir``, keyed by the doc count
    and the oracle's parameters."""
    params = (config.threshold, config.shingle_size, config.num_perm, config.seed,
              sorted(config.preprocess_options().items()))
    key = hashlib.sha256(repr(params).encode()).hexdigest()[:12]
    path = os.path.join(corpus_dir, f"expected-{len(texts)}-{key}.npz")
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return Expected(int(z["n"]), z["edges"], z["sims"], z["labels"], z["certainty"])
    exp = oracle_expected(texts, config)
    with open(path + ".tmp", "wb") as f:
        np.savez(f, n=exp.n, edges=exp.edges, sims=exp.sims, labels=exp.labels,
                 certainty=exp.certainty)
    os.replace(path + ".tmp", path)
    return exp


def cached_prefixes(corpus_dir: str, texts: list, ends: list, config) -> list:
    """``cached_expected`` of ``texts[:end]`` for each end, the prefixes in
    parallel on forked processes: the cold oracle is a large share of an
    ``incremental`` run's untimed time.  Forked, not spawned, so no
    semaphore tracker process outlives the pool."""
    if len(ends) == 1:
        return [cached_expected(corpus_dir, texts[: ends[0]], config)]
    n = len(ends)
    with ProcessPoolExecutor(n, mp_context=multiprocessing.get_context("fork")) as pool:
        return list(pool.map(cached_expected, [corpus_dir] * n, [texts[:e] for e in ends],
                             [config] * n))


def from_ref(n: int, edges, dense_labels: np.ndarray, certainty: np.ndarray) -> Expected:
    srt = sorted(edges)
    e = np.array([(i, j) for i, j, _ in srt], dtype=np.int64).reshape(len(srt), 2)
    s = np.array([sim for _, _, sim in srt], dtype=np.float64)
    labels = canonical_labels(np.arange(n), dense_labels, n)
    return Expected(n, e, s, labels, np.asarray(certainty, dtype=np.float64))


def canonical_labels(doc_ids: np.ndarray, labels: np.ndarray, n: int) -> np.ndarray:
    """Relabel a partition of 0..n-1 by each cluster's min doc_id.  Docs
    missing from the output stay in singleton clusters labelled -1 - id,
    which can never equal a real label."""
    out = -1 - np.arange(n, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    labels = np.asarray(labels, dtype=np.int64)
    if len(doc_ids) == 0:
        return out
    order = np.lexsort((doc_ids, labels))
    lab, ids = labels[order], doc_ids[order]
    first = np.r_[True, lab[1:] != lab[:-1]]
    group_min = np.maximum.accumulate(np.where(first, np.arange(len(lab)), 0))
    out[ids] = ids[group_min]
    return out


def pair_recall(expected_labels: np.ndarray, got_labels: np.ndarray) -> float:
    """Share of the oracle's same-cluster doc pairs that are also
    same-cluster in the output, from the cluster contingency table."""

    def pairs(counts: np.ndarray) -> int:
        c = counts.astype(np.int64)
        return int((c * (c - 1) // 2).sum())

    _, ref_counts = np.unique(expected_labels, return_counts=True)
    total = pairs(ref_counts)
    if total == 0:
        return 1.0
    joint = np.stack([expected_labels, got_labels], axis=1)
    _, both_counts = np.unique(joint, axis=0, return_counts=True)
    return pairs(both_counts) / total


def compare(exp: Expected, edges, assignments, with_certainty: bool = True) -> tuple[list[str], float]:
    """Check pipeline output against the oracle.

    ``edges``: pandas (src, dst, sim); ``assignments``: pandas (doc_id,
    cluster_id[, certainty]).  Returns (problems, dup_pair_recall); an
    empty problem list means the output is correct."""
    problems = []
    e = edges.sort_values(["src", "dst"])
    got_e = e[["src", "dst"]].to_numpy(dtype=np.int64).reshape(len(e), 2)
    if got_e.shape != exp.edges.shape or not np.array_equal(got_e, exp.edges):
        problems.append(f"edge set differs: {len(got_e)} edges vs {len(exp.edges)} expected")
    elif not np.array_equal(e["sim"].to_numpy(dtype=np.float64), exp.sims):
        problems.append("edge similarities differ")

    ids = assignments["doc_id"].to_numpy(dtype=np.int64)
    if len(ids) != exp.n or len(np.unique(ids)) != exp.n or ids.min() != 0 or ids.max() != exp.n - 1:
        problems.append(f"assignments cover {len(np.unique(ids))} of {exp.n} doc_ids "
                        f"in {len(ids)} rows")
        ids_ok = (ids >= 0) & (ids < exp.n)
        a = assignments[ids_ok].drop_duplicates("doc_id")
    else:
        a = assignments
    got = canonical_labels(a["doc_id"].to_numpy(), a["cluster_id"].to_numpy(), exp.n)
    if not np.array_equal(got, exp.labels):
        problems.append(f"clusters differ on {int((got != exp.labels).sum())} docs")
    if with_certainty and not problems:
        cert = np.empty(exp.n, dtype=np.float64)
        cert[a["doc_id"].to_numpy(dtype=np.int64)] = a["certainty"].to_numpy(dtype=np.float64)
        worst = float(np.max(np.abs(cert - exp.certainty))) if exp.n else 0.0
        if worst > 1e-9:
            problems.append(f"certainty differs by up to {worst:.3g}")
    return problems, pair_recall(exp.labels, got)

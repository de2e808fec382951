"""Verify kernels: the two join strategies and the fused kernel give the
same edges, bit for bit, and fail with the same named error on bad input."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.operators.bands import explode_bands
from sparkdedup.operators.pairs import candidate_pairs, salted_members
from sparkdedup.operators.verify import _fused_kernel, verify_members, verify_pairs
from sparkdedup.pipeline import DedupPipeline

MISSING = "references a doc_id absent from the signature table"


def _corpus(spark, n=90):
    rows = []
    for i in range(n):
        if i % 3 == 0:
            text = f"the quick brown fox jumps over the lazy dog variant {i % 7}"
        else:
            text = f"document number {i} with its own distinct words {i * 37}"
        rows.append((i, text))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.fixture(scope="module")
def sigs_bands(spark):
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    pipe = DedupPipeline(spark, cfg)
    clean = pipe.normalize(_corpus(spark), "text", "doc_id")
    sigs = pipe.signatures(clean).localCheckpoint(eager=True)
    b, r = cfg.bands_rows()
    return sigs, explode_bands(sigs, b, r)


def _edges(df):
    return sorted((r.src, r.dst, r.sim) for r in df.collect())


def test_strategies_and_fused_give_identical_edges(sigs_bands):
    """Exact sim equality, no rounding: every path divides the same
    equality count by num_perm."""
    sigs, bands = sigs_bands
    pairs = candidate_pairs(bands, salt_threshold=2)
    shuffle = _edges(verify_pairs(pairs, sigs, 0.3, 64, strategy="shuffle_hash"))
    broadcast = _edges(verify_pairs(pairs, sigs, 0.3, 64, strategy="broadcast"))
    fused = _edges(verify_members(salted_members(bands, 2), sigs, 0.3, 64))
    assert len(shuffle) > 0
    assert shuffle == broadcast == fused


def _pairs_with_missing_id(spark, sigs):
    top = sigs.agg({"doc_id": "max"}).first()[0]
    # above every signature id: searchsorted returns len(ids) here
    return spark.createDataFrame([(0, 3), (3, top + 1000)], "src long, dst long")


def test_missing_doc_id_shuffle_hash_raises(spark, sigs_bands):
    sigs, _ = sigs_bands
    pairs = _pairs_with_missing_id(spark, sigs)
    with pytest.raises(Exception, match=MISSING):
        verify_pairs(pairs, sigs, 0.0, 64, strategy="shuffle_hash").collect()


def test_missing_doc_id_broadcast_raises(spark, sigs_bands):
    sigs, _ = sigs_bands
    pairs = _pairs_with_missing_id(spark, sigs)
    with pytest.raises(Exception, match=MISSING):
        verify_pairs(pairs, sigs, 0.0, 64, strategy="broadcast").collect()
    # the fused kernel, driven directly with a band member above every id
    ids = np.array([1, 2, 3], np.int64)
    mat = np.zeros((3, 4), np.uint32)
    batch = _members_batch([[(1, 0), (9, 0)]])
    with pytest.raises(ValueError, match=MISSING):
        list(_fused_kernel(_Bc((ids, mat)), 0.0, 4)([batch]))


class _Bc:
    def __init__(self, value):
        self.value = value


def _members_batch(buckets) -> pa.RecordBatch:
    """(ci, cj, ms) buckets, every member in cell 0."""
    member = pa.struct([("d", pa.int64()), ("c", pa.int32())])
    ms = pa.array([[{"d": d, "c": c} for d, c in b] for b in buckets], pa.list_(member))
    zeros = pa.array([0] * len(buckets), pa.int32())
    return pa.RecordBatch.from_arrays([zeros, zeros, ms], ["ci", "cj", "ms"])


def test_fused_kernel_on_sliced_batch():
    """A sliced batch's ListArray offsets do not start at 0, while
    flatten() does: the kernel must index relative to the slice."""
    ids = np.arange(8, dtype=np.int64)
    mat = np.zeros((8, 4), np.uint32)
    mat[4:, 0] = 1  # docs 0-3 share one signature, docs 4-7 another
    buckets = [[(0, 0), (1, 0)], [(2, 0), (3, 0)], [(4, 0), (5, 0), (6, 0)], [(7, 0), (4, 0)]]
    kernel = _fused_kernel(_Bc((ids, mat)), 1.0, 4)

    def edges(batch):
        out = pa.Table.from_batches(list(kernel([batch])))
        return sorted(zip(*(out.column(k).to_pylist() for k in ("src", "dst", "sim"))))

    sliced = _members_batch(buckets).slice(2)
    assert sliced.column("ms").offsets[0].as_py() != 0
    assert edges(sliced) == edges(_members_batch(buckets[2:]))
    assert edges(sliced) == [(4, 5, 1.0), (4, 6, 1.0), (4, 7, 1.0), (5, 6, 1.0)]


def test_wrong_signature_length_raises_in_every_kernel(spark):
    sigs = spark.createDataFrame(
        [(0, [1] * 64), (1, [1, 2, 3]), (2, [1] * 64)], "doc_id long, sig array<bigint>"
    )
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "src long, dst long")
    members = spark.createDataFrame(
        [(0, 0, [(0, 0), (1, 0), (2, 0)])], "ci int, cj int, ms array<struct<d:long,c:int>>"
    )
    wrong = r"verify: signature of length 3, expected num_perm=64"
    for strategy in ("shuffle_hash", "broadcast"):
        with pytest.raises(Exception, match=wrong):
            verify_pairs(pairs, sigs, 0.0, 64, strategy=strategy).collect()
    with pytest.raises(Exception, match=wrong):
        verify_members(members, sigs, 0.0, 64).collect()

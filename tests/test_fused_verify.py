"""The fused pair-generation + verify path (round-6 optimization) must be
bit-identical to the staged candidate_pairs -> verify_pairs path, for both
cold and salted (hot-band) bucket shapes, and the pipeline must route to
it exactly when the gate conditions hold."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.operators.bands import explode_bands
from sparkdedup.operators.pairs import candidate_pairs, salted_members
from sparkdedup.operators.verify import verify_members, verify_pairs
from sparkdedup.pipeline import DedupPipeline


def _corpus(spark, n=120, dup_every=3):
    rows = []
    for i in range(n):
        if i % dup_every == 0:
            text = f"the quick brown fox jumps over the lazy dog variant {i % 7}"
        else:
            text = f"document number {i} with its own distinct words {i * 37}"
        rows.append((i, text))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _edges_sorted(df):
    return [
        (r.src, r.dst, r.sim)
        for r in df.select("src", "dst", "sim").orderBy("src", "dst").collect()
    ]


@pytest.mark.parametrize("salt", [2, 512])
def test_fused_equals_staged(spark, salt):
    """verify_members(salted_members(bands)) == verify_pairs(candidate_pairs(bands))
    with salting forced on (salt=2 splits every band >= 3 members into
    cells, exercising mixed cell-pair buckets) and effectively off."""
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    pipe = DedupPipeline(spark, cfg)
    docs = _corpus(spark)
    clean = pipe.normalize(docs, "text", "doc_id").localCheckpoint(eager=True)
    sigs = pipe.signatures(clean).localCheckpoint(eager=True)
    b, r = cfg.bands_rows()
    bands = explode_bands(sigs, b, r)

    staged = verify_pairs(
        candidate_pairs(bands, salt_threshold=salt), sigs, 0.3, 64
    )
    fused = verify_members(salted_members(bands, salt), sigs, 0.3, 64)
    se, fe = _edges_sorted(staged), _edges_sorted(fused)
    assert len(se) > 0
    assert se == fe


def test_pipeline_routes_to_fused_and_matches_staged(spark):
    """run() under the default config (broadcast strategy) must produce
    exactly the same edges + assignments as run() with broadcasting
    disabled (the staged shuffle-hash path)."""
    docs = _corpus(spark)
    out_fused = DedupPipeline(spark, DedupConfig(threshold=0.3, shingle_size=6)).run(docs)
    out_staged = DedupPipeline(
        spark,
        DedupConfig(threshold=0.3, shingle_size=6, verify_broadcast_max_bytes=None),
    ).run(docs)
    assert _edges_sorted(out_fused["edges"]) == _edges_sorted(out_staged["edges"])
    a1 = [
        (r.doc_id, r.cluster_id, round(r.certainty, 9))
        for r in out_fused["assignments"].orderBy("doc_id").collect()
    ]
    a2 = [
        (r.doc_id, r.cluster_id, round(r.certainty, 9))
        for r in out_staged["assignments"].orderBy("doc_id").collect()
    ]
    assert a1 == a2


def test_fused_gate_respects_pair_consumers(spark):
    """Configs that consume the materialized pair table (substring stage,
    candidate cap, simhash pre-filter, no-salting) must keep the staged
    path — asserted via the checkpointed stage list containing 05_pairs."""
    import os
    import tempfile

    docs = _corpus(spark, n=40)
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "ck")
        pipe = DedupPipeline(
            spark,
            DedupConfig(threshold=0.3, shingle_size=6, max_candidates=500),
            checkpoint_dir=root,
        )
        pipe.run(docs)
        assert "05_pairs" in pipe.ckpt.list_stages()
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "ck")
        pipe = DedupPipeline(
            spark, DedupConfig(threshold=0.3, shingle_size=6), checkpoint_dir=root
        )
        pipe.run(docs)
        stages = pipe.ckpt.list_stages()
        assert "06_edges" in stages and "05_pairs" not in stages

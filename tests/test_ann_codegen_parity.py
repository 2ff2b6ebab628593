"""The size-gated codegen plans of the ANN paths must be bit-identical
to the interpreted-HOF plans (same left folds, unrolled): the gate
(`similarity._want_codegen`) picks a PLAN, never a result.

Mirrors the minhash size-gated pair-plan parity test: run each operator
with codegen forced on and forced off over the same input and require
identical row sets (cosine values compared exactly — both plans must
produce the same doubles before rounding for the oracle hash to hold at
any scale).
"""

import pytest

from s2geometry_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    ann_pq_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("query_id", "cand_id", "cosine", "rank").collect()
    )


def test_lsh_codegen_parity(emb):
    slow = _rows(ann_lsh_topk(emb, n_queries=10, k=5, bits=6, codegen=False))
    fast = _rows(ann_lsh_topk(emb, n_queries=10, k=5, bits=6, codegen=True))
    assert slow == fast
    assert len(slow) == 50


def test_ivf_codegen_parity(emb):
    slow = _rows(
        ann_ivf_topk(emb, n_queries=10, k=5, n_centroids=8, nprobe=2, codegen=False)
    )
    fast = _rows(
        ann_ivf_topk(emb, n_queries=10, k=5, n_centroids=8, nprobe=2, codegen=True)
    )
    assert slow == fast
    assert len(slow) == 50


def test_pq_codegen_parity(emb):
    slow = _rows(
        ann_pq_topk(
            emb, n_queries=10, k=5, n_codewords=8, m_subspaces=4, codegen=False
        )
    )
    fast = _rows(
        ann_pq_topk(
            emb, n_queries=10, k=5, n_codewords=8, m_subspaces=4, codegen=True
        )
    )
    assert slow == fast
    assert len(slow) == 50


def test_gate_reads_scan_size(emb):
    from s2geometry_spark.operators.similarity import _want_codegen

    # the sf0.01 fixture scan is far below the 32 MB gate
    assert _want_codegen(emb) is False


@pytest.mark.parametrize("bad", [float("inf"), float("-inf"), float("nan")])
def test_codegen_literals_accept_non_finite_values(spark, bad):
    """A non-finite value in a sampled centroid / codeword becomes a SQL
    literal in the codegen plans; it must parse and match the
    interpreted plan (NaN scores compared by repr)."""
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for vid in range(16):
        v = rng.uniform(-1, 1, 8).tolist()
        if vid == 15:
            v[0] = bad
        rows.append((vid, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def rows_of(df):
        return sorted(
            (r.query_id, r.cand_id, repr(r.cosine), r.rank) for r in df.collect()
        )

    for op, kw in (
        (ann_ivf_topk, dict(n_centroids=16, nprobe=2)),
        (ann_pq_topk, dict(n_codewords=16, m_subspaces=2)),
    ):
        fast = rows_of(op(emb, n_queries=4, k=3, codegen=True, **kw))
        slow = rows_of(op(emb, n_queries=4, k=3, codegen=False, **kw))
        assert fast == slow and len(fast) > 0

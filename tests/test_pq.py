"""x9 product-quantization ANN: retrieval + determinism properties the
oracle sweep can't express (crafted corpora)."""

from __future__ import annotations

import os

from mirrulations_iceberg_spark.operators.similarity import (
    PQ_K,
    PQ_M,
    _embeddings,
    _pq_fit_codebooks,
    fit_artifacts,
    x9_pq_adc_topk,
)

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def _crafted_corpus(spark, tmp_path, n=40):
    """Deterministic pseudo-vectors + an exact copy of each query
    vector under a fresh id (1000+q)."""
    rows = [
        (i, [float((i * 37 + d * 11) % 97) / 97.0 for d in range(64)], 0)
        for i in range(n)
    ]
    rows += [(1000 + q, rows[q][1], 0) for q in range(5)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )
    return str(tmp_path)


def test_pq_duplicate_lands_in_topk(spark, tmp_path):
    """An exact copy of the query vector gets the query's own codes, so
    its ADC distance is exactly 0 — it must appear in the ADC top-k,
    and it is also the exact-L2 top-1, so every query scores ≥1 hit."""
    sf = _crafted_corpus(spark, tmp_path)
    out = {r["query_id"]: r for r in x9_pq_adc_topk(spark, sf).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for q, r in out.items():
        assert r["recall_at_k"] >= 0.1, (q, r)


def test_pq_fit_deterministic_and_complete(spark):
    """Two independent fits agree exactly (the engine-reproducibility
    contract the oracle depends on) and cover every subspace."""
    emb = _embeddings(spark, SF_DIR)
    a = sorted(map(tuple, ((r["m"], r["cell"], tuple(r["center"]))
                           for r in _pq_fit_codebooks(emb).collect())))
    b = sorted(map(tuple, ((r["m"], r["cell"], tuple(r["center"]))
                           for r in _pq_fit_codebooks(emb).collect())))
    assert a == b
    ms = {m for m, _, _ in a}
    assert ms == set(range(PQ_M))
    for m in ms:
        cells = [c for mm, c, _ in a if mm == m]
        assert len(cells) == len(set(cells)) <= PQ_K


def test_fused_fit_equals_single_fits(spark):
    """Fusing the IVF and PQ fits into one action is pure packaging:
    the fused call returns exactly the rows of the ivf-only and pq-only
    calls, and the unasked model stays None."""
    emb = _embeddings(spark, SF_DIR)
    both = fit_artifacts(emb, ivf=True, pq=True)
    ivf = fit_artifacts(emb, ivf=True)
    pq = fit_artifacts(emb, pq=True)
    assert both.center_rows and both.cb_rows
    assert both.center_rows == ivf.center_rows
    assert both.cb_rows == pq.cb_rows
    assert ivf.cb_rows is ivf.cb_lit is pq.center_rows is pq.centers is None
    assert sorted(map(tuple, both.centers.collect())) == both.center_rows


def test_pq_output_deterministic(spark, tmp_path):
    sf = _crafted_corpus(spark, tmp_path)
    r1 = sorted(map(tuple, x9_pq_adc_topk(spark, sf).collect()))
    r2 = sorted(map(tuple, x9_pq_adc_topk(spark, sf).collect()))
    assert r1 == r2

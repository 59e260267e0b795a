"""Tie-breaks of the shared ANN search steps in
``operators/similarity.py``, on hand-built frames.

The DuckDB oracles replay two orders: probe cells rank by
``(dist2, cell)`` and the exact-L2 truth by ``(round(l2, 4), vec_id)``.
The embeddings fixture's random floats never produce an equal
distance, so the query-level parity tests cannot see which side of a
tie wins; these frames put the tie exactly at the cut.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from mirrulations_iceberg_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _embeddings,
    _l2_truth,
    _probe_cells,
    _round_half_up,
    fit_artifacts,
)

from .conftest import SF_DIR


def _pyl2sq(a: list, b: list) -> float:
    """Driver-side twin of ``_l2sq``: the same left-to-right
    ``(…(0.0 + d₁²) + d₂²)…`` fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def test_probe_cells_tie_keeps_lower_cell(spark):
    """Cells 2, 3 and 5 are all at squared distance 4.0 from query 0,
    behind cell 1 at 1.0: with nprobe = 2 the boundary tie must go to
    cell 2, with nprobe = 3 to cells 2 and 3, whatever the row order."""
    queries = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])], "query_id long, qe array<double>"
    )
    centers = spark.createDataFrame(
        [
            (5, [0.0, -2.0]),
            (3, [-2.0, 0.0]),
            (0, [3.0, 0.0]),
            (2, [0.0, 2.0]),
            (1, [1.0, 0.0]),
        ],
        "cell int, center array<double>",
    )

    def probed(nprobe):
        rows = _probe_cells(queries, centers, nprobe).collect()
        return sorted((r["query_id"], r["pr"], r["cell"]) for r in rows)

    # query 1 (distances 49, 81, 104, 104, 144) ties cells 2 and 5 at
    # its third probe
    assert probed(2) == [(0, 1, 1), (0, 2, 2), (1, 1, 0), (1, 2, 1)]
    assert probed(3) == [
        (0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 1, 0), (1, 2, 1), (1, 3, 2),
    ]


def test_l2_truth_tie_keeps_lower_vec_id_and_matches_brute_force(spark):
    """Vectors 14 and 15 tie at l2 = 25.0 from query 0 as its 10th and
    11th nearest (vectors 1-4 are far queries), and 15 is listed
    first: the truth keeps 14. Every query's top-k equals a pure-Python
    brute force with the same fold and the same HALF_UP rounding."""
    far = [[100.0, 0.0], [0.0, 100.0], [-100.0, 0.0], [0.0, -100.0]]
    near = [
        [0.1, 0.2], [0.3, -0.7], [1.5, 1.5], [-2.2, 0.4], [2.0, -2.5],
        [0.0, 3.3], [-3.1, -1.2], [3.9, 0.6], [-1.0, 4.0],
    ]
    vecs = {0: [0.0, 0.0]}
    vecs.update({1 + i: v for i, v in enumerate(far)})
    vecs.update({5 + i: v for i, v in enumerate(near)})
    vecs[15] = [4.0, 3.0]
    vecs[14] = [3.0, 4.0]
    emb = spark.createDataFrame(
        list(vecs.items()), "vec_id long, e array<double>"
    )
    assert emb.count() == 16 and N_QUERIES == 5 and TOP_K == 10

    got: dict[int, set] = {}
    for r in _l2_truth(emb).collect():
        got.setdefault(r["query_id"], set()).add(r["exact_vec_id"])

    want = {}
    for q in range(N_QUERIES):
        ranked = sorted(
            (_round_half_up(_pyl2sq(e, vecs[q]), 4), v)
            for v, e in vecs.items()
            if v != q
        )
        want[q] = {v for _, v in ranked[:TOP_K]}
    assert got == want
    assert 14 in got[0] and 15 not in got[0]


def test_fit_collect_leaves_concurrent_queries_on_session_conf(spark, monkeypatch):
    """While the Lloyd fit's collect is running on one thread, a query
    planned on another thread in the same session keeps the session's
    conf (adaptive, its shuffle partitions), and the fit plans under
    its own (AQE off, ``min(cores, 64)``) with the caller's
    runtime-set timezone."""
    emb = _embeddings(spark, SF_DIR)
    frame_cls = type(emb)
    real_collect = frame_cls.collect
    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone",
    )
    entered, release = threading.Event(), threading.Event()
    seen = []

    def collect(df):
        seen.append({k: df.sparkSession.conf.get(k) for k in keys})
        entered.set()
        assert release.wait(300)
        return real_collect(df)

    original = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "257")
        spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
        monkeypatch.setattr(frame_cls, "collect", collect)
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(fit_artifacts, emb, ivf=True, pq=True)
            try:
                assert entered.wait(300)
                plain = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
                plan = plain._jdf.queryExecution().executedPlan()
            finally:
                release.set()
            fut.result(timeout=600)
    finally:
        for k, v in original.items():
            spark.conf.set(k, v)
    assert plan.nodeName() == "AdaptiveSparkPlan"
    assert ", 257), ENSURE_REQUIREMENTS" in plan.toString()
    cores = spark.sparkContext.defaultParallelism
    assert seen and all(
        s
        == {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(min(cores, 64)),
            "spark.sql.session.timeZone": "America/Chicago",
        }
        for s in seen
    ), seen

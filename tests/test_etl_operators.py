"""Engineered checks of the curation pipelines in ``operators/etl.py``."""

from __future__ import annotations

from mirrulations_iceberg_spark.operators.dedup import D10_DELTA_MOD, DECON_MOD
from mirrulations_iceberg_spark.operators.etl import (
    E9_MIN_TOKENS,
    e9_refresh_pipeline,
)

from .conftest import documents_oracle_mismatch, write_docs


def test_e9_engineered_refresh_stages(spark, tmp_path):
    """Every en stage drops exactly one crafted doc: delta = {5, 10,
    15, 20, 25}; 5 fails the 20-token gate; 10 and 15 are exact copies
    (15 collapses into 10); 10's text is base doc 2's (exact novelty
    drops it); 20 shares the shingle 'green blue indigo' with base doc
    97, a benchmark doc (decontamination drops it); 25 is admitted.
    The de delta is one NULL-text row: counted, gated out, and its
    language still reports zeros."""
    assert (D10_DELTA_MOD, DECON_MOD, E9_MIN_TOKENS) == (5, 97, 20)
    base_t = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform"
    )  # 21 tokens
    dup_t = (
        "whiskey xray yankee zulu apple banana cherry dragon eagle "
        "falcon grape harbor island jungle koala lemon mango nectar "
        "orange panda quartz"
    )  # 21 tokens
    bench_t = (
        "red orange yellow green blue indigo violet black white grey "
        "brown pink cyan magenta gold silver bronze ivory olive teal "
        "navy"
    )  # 21 tokens
    contaminated_t = (
        "one two three four five six seven eight nine green blue "
        "indigo ten eleven twelve thirteen fourteen fifteen sixteen "
        "seventeen eighteen"
    )  # 21 tokens, one shingle shared with bench_t
    novel_t = (
        "mercury venus earth mars jupiter saturn uranus neptune pluto "
        "ceres eris haumea makemake sedna quaoar orcus varuna ixion "
        "salacia gonggong vesta"
    )  # 21 tokens, unrelated
    sf = write_docs(
        spark,
        tmp_path,
        [
            (1, base_t, "en", "s"),  # base
            (2, dup_t, "en", "s"),  # base: exact twin of delta 10/15
            (97, bench_t, "en", "s"),  # base: benchmark doc
            (5, "too short", "en", "s"),  # delta: gated out
            (10, dup_t, "en", "s"),  # delta: copy of base 2
            (15, dup_t, "en", "s"),  # delta: collapses into 10
            (20, contaminated_t, "en", "s"),  # delta: contaminated
            (25, novel_t, "en", "s"),  # delta: admitted
            (30, None, "de", "s"),  # delta: NULL text
        ],
    )
    out = e9_refresh_pipeline(spark, sf)
    assert out.columns == [
        "lang",
        "n_delta",
        "n_gated",
        "n_exact",
        "n_novel",
        "n_admitted",
        "admitted_tokens",
        "id_checksum",
    ]
    assert [tuple(r) for r in out.collect()] == [
        ("de", 1, 0, 0, 0, 0, 0, 0),
        ("en", 5, 4, 3, 2, 1, 21, 25),
    ]
    assert documents_oracle_mismatch(sf, "e9_refresh_pipeline", out) is None

"""Threshold-derived MinHash banding (``dedup.lsh_params``)."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.dedup import (
    lsh_params,
)


def test_lsh_params_curve():
    # k=8, θ=0.7 → 2 bands × 4 rows ((1/2)^(1/4) ≈ 0.84 is the closest knee)
    assert lsh_params(0.7, 8) == (2, 4)
    # looser threshold → more bands (higher recall)
    b_loose, _ = lsh_params(0.2, 8)
    b_tight, _ = lsh_params(0.95, 8)
    assert b_loose > b_tight

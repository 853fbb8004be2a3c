"""k-fold precision/recall evaluation."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.evaluate import (
    kfold_prf,
)


def test_kfold_prf(spark):
    pred = spark.createDataFrame(
        [(f"u{i}", "a", "b", "r") for i in range(40)] + [("u0", "x", "y", "r")],
        "url string, subj string, obj string, rel string",
    )
    gold = spark.createDataFrame(
        [(f"u{i}", "a", "b", "r") for i in range(50)],
        "url string, subj string, obj string, rel string",
    )
    res = kfold_prf(pred, gold, k=5)
    assert len(res["folds"]) == 5
    assert 0.7 <= res["recall"]["mean"] <= 0.9
    assert res["precision"]["sem"] >= 0.0

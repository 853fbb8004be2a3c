"""Training-data prep operators: pair explosion w/ negatives, regroup, split."""

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.training import (
    ner_re_merge,
    re_training_pairs,
    train_valid_split,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    expanded_frame,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)


@pytest.fixture(scope="module")
def expanded(spark):
    docs = generate_corpus(spark, 200, seed=42)
    return expanded_frame(docs).cache()


def test_training_pairs(spark, expanded):
    pairs = re_training_pairs(expanded).cache()
    assert pairs.columns == ["pair_id", "url", "subj", "obj", "re_label", "text"]
    n = pairs.count()
    assert n > 0
    # positives + 沒有 negatives present; pair order canonical
    classes = {r["re_label"] for r in pairs.select("re_label").distinct().collect()}
    assert "沒有" in classes and classes - {"沒有"} <= {"親屬", "師生", "同事", "其他"}
    assert pairs.where(F.col("subj") >= F.col("obj")).count() == 0
    # ids are url_1..url_k, dense per doc
    first = pairs.where(F.col("pair_id").endswith("_1")).count()
    assert first == pairs.select("url").distinct().count()
    # deterministic under re-run
    assert sorted(map(tuple, pairs.collect())) == sorted(
        map(tuple, re_training_pairs(expanded).collect())
    )


def test_ner_re_merge_roundtrip(spark, expanded):
    pairs = re_training_pairs(expanded)
    merged = ner_re_merge(pairs)
    assert merged.columns == ["url", "ner_re_ternary"]
    # every positive golden triple survives the explode→regroup round trip
    back = (
        merged.select("url", F.explode("ner_re_ternary").alias("t"))
        .where(F.col("t.rel") != "沒有")
        .select("url", "t.subj", "t.obj", "t.rel")
    )
    golden = (
        expanded.select("url", F.explode("merge_label_1024").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
    )
    assert back.exceptAll(golden).count() == 0
    assert golden.exceptAll(back).count() == 0


def test_train_valid_split(spark, expanded):
    train, valid = train_valid_split(expanded.select("url"), 0.1)
    n_t, n_v = train.count(), valid.count()
    assert n_t + n_v == expanded.count()
    assert 0 < n_v < n_t
    # disjoint + deterministic
    assert train.join(valid, "url", "inner").count() == 0

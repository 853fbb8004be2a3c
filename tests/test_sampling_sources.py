"""P7 class-balanced sampling (distributed exact hash rank)."""

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.training import (
    class_balanced_pairs,
    hash_balanced_sample,
)


# --- balanced sampling --------------------------------------------------------

@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(f"p{i:04d}", "沒有" if i % 7 else "親屬") for i in range(700)]
    return spark.createDataFrame(rows, "pair_id string, re_label string").cache()


def test_balanced_counts(spark, labeled):
    bal = class_balanced_pairs(labeled)
    counts = {
        r["re_label"]: r["n"]
        for r in bal.groupBy("re_label").agg(F.count("*").alias("n")).collect()
    }
    assert counts["親屬"] == 100
    assert counts["沒有"] == 100


def test_balanced_deterministic_under_partitioning(spark, labeled):
    a = set(r["pair_id"] for r in class_balanced_pairs(labeled.repartition(1)).collect())
    b = set(r["pair_id"] for r in class_balanced_pairs(labeled.repartition(13)).collect())
    assert a == b and len(a) == 200


def test_balanced_no_negatives_edge(spark):
    df = spark.createDataFrame([("a", "親屬")], "pair_id string, re_label string")
    assert class_balanced_pairs(df).count() == 1


def test_balanced_null_keys_excluded(spark):
    """NULL keys cannot be hash-ranked: they are excluded from the negative
    sample (documented contract) instead of crashing the bucket map."""
    rows = [("a", "親屬"), ("b", "沒有"), (None, "沒有"), ("c", "沒有")]
    df = spark.createDataFrame(rows, "pair_id string, re_label string")
    bal = class_balanced_pairs(df).collect()
    keys = {r["pair_id"] for r in bal}
    assert None not in keys
    assert sum(1 for r in bal if r["re_label"] == "沒有") == 1


def test_balanced_matches_global_sort_rank(spark, labeled):
    """The two-phase bucketed rank equals the straight global-window rank
    (the single-partition formulation the SQL oracle uses)."""
    from pyspark.sql.window import Window

    from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.training import (
        _md5_rank_hash,
    )

    neg = labeled.where(F.col("re_label") == "沒有")
    n_pos = labeled.where(F.col("re_label") != "沒有").count()
    w = Window.orderBy(_md5_rank_hash("pair_id", "22"), "pair_id")
    want = set(
        r["pair_id"]
        for r in neg.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_pos)
        .collect()
    )
    got = set(
        r["pair_id"]
        for r in hash_balanced_sample(
            labeled, F.col("re_label") != "沒有", key="pair_id", seed="22"
        )
        .where(F.col("re_label") == "沒有")
        .collect()
    )
    assert got == want


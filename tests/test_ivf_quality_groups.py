"""Gopher-style repetition quality features and near-dup group resolution
(pairs → connected components → canonical doc).

Each operator also has a full value-level DuckDB oracle in
``__spark_entry__.py`` (gopher_quality / dedup_groups); the tests
here pin the kernel semantics on hand-computed fixtures the oracle can't
express independence from."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    dedup as D,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    textstats as T,
)


def test_repetition_features_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "x y x y x"),
            (3, "unique words only here"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (
            r["r_n_words"],
            r["r_dup_word_frac"],
            r["r_top_bigram_frac"],
            r["r_mean_word_len"],
        )
        for r in T.repetition_features(df).collect()
    }
    # doc 1: words [a,a,b] → dup 1-2/3; bigrams [a a, a b] → top 1/2; mean 1
    assert got[1] == (3, round(1 - 2 / 3, 6), 0.5, 1.0)
    # doc 2: [x,y,x,y,x] → dup 1-2/5=0.6; bigrams [x y,y x,x y,y x] → top 2/4
    assert got[2] == (5, 0.6, 0.5, 1.0)
    # doc 3: all distinct → dup 0; 3 distinct bigrams of 3 → top 1/3
    assert got[3] == (4, 0.0, round(1 / 3, 6), round(19 / 4, 6))
    # empty doc: all-zero guards (no division blowups)
    assert got[4] == (0, 0.0, 0.0, 0.0)


def test_gopher_keep_thresholds(spark):
    long_clean = " ".join(f"w{i}" for i in range(30))
    short = "too short"
    repetitive = " ".join(["spam ham"] * 20)
    df = spark.createDataFrame(
        [(1, long_clean), (2, short), (3, repetitive)], ["doc_id", "text"]
    )
    kept = {
        r["doc_id"]: r["kept"]
        for r in T.repetition_features(df)
        .withColumn("kept", T.gopher_keep().cast("int"))
        .collect()
    }
    assert kept == {1: 1, 2: 0, 3: 0}


def test_near_dup_doc_groups_hand_graph(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 11)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (8, 9)], ["a_id", "b_id"]
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in D.near_dup_doc_groups(docs, pairs).collect()
    }
    want = {
        1: (1, 1), 2: (1, 0), 3: (1, 0),
        4: (4, 1), 5: (5, 1), 6: (6, 1),
        7: (7, 1), 8: (7, 0), 9: (7, 0),
        10: (10, 1),
    }
    assert got == want

"""Corpus generator determinism, golden-triple shape, and width folding."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
    golden_triples,
    make_doc,
)

N = 300


def test_make_doc_deterministic():
    a, ga = make_doc(7, seed=42)
    b, gb = make_doc(7, seed=42)
    assert a == b and ga == gb
    c, _ = make_doc(7, seed=43)
    assert c != a


def test_corpus_distributed_generation_partition_invariant(spark):
    df2 = generate_corpus(spark, 100, seed=42, partitions=2)
    df8 = generate_corpus(spark, 100, seed=42, partitions=8)
    a = sorted(df2.select("url", "text", "lang").collect())
    b = sorted(df8.select("url", "text", "lang").collect())
    assert a == b
    assert df2.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_golden_shape(spark):
    g = golden_triples(spark, N, seed=42).toPandas()
    assert list(g.columns) == ["url", "subj", "obj", "rel", "in_first_1024"]
    assert len(g) > 30
    assert set(g["rel"]) <= {"親屬", "師生", "同事", "其他"}
    assert (g["subj"] < g["obj"]).all()  # canonical pair order
    assert not g.duplicated(["url", "subj", "obj", "rel"]).any()


def test_normalize_width_folds_and_counts(spark):
    from pyspark.sql import functions as F

    from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.textstats import (
        fullwidth_char_count,
        normalize_width,
    )

    df = spark.createDataFrame(
        [(1, "ＡＢＣ　１２３！ok"), (2, "plain ascii"), (3, "中文不变ＸYＺ")],
        "i long, t string",
    )
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            normalize_width(F.col("t")).alias("n"),
            fullwidth_char_count(F.col("t")).alias("c"),
        ).collect()
    }
    assert rows[1]["n"] == "ABC 123!ok" and rows[1]["c"] == 8
    assert rows[2]["n"] == "plain ascii" and rows[2]["c"] == 0
    # CJK ideographs are untouched; only the width-fold block maps
    assert rows[3]["n"] == "中文不变XYZ" and rows[3]["c"] == 2

"""Structured-Streaming ingest vs the batch plan."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    extract_triples,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.streaming import (
    stream_extract_triples,
)


def test_streaming_matches_batch(spark, tmp_path):
    corpus = generate_corpus(spark, 120, seed=42)
    in_dir = str(tmp_path / "in")
    corpus.repartition(6).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_extract_triples(spark, in_dir, out_dir, ckpt, available_now=True)

    streamed = spark.read.parquet(out_dir).select("url", "subj", "obj", "rel").distinct()
    batch = extract_triples(spark.read.parquet(in_dir)).distinct()
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0

    # exactly-once: re-running with the same checkpoint adds nothing
    stream_extract_triples(spark, in_dir, out_dir, ckpt, available_now=True)
    assert spark.read.parquet(out_dir).count() == streamed.count()

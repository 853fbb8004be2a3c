"""End-to-end pipeline: golden accuracy, exact reference parity,
linking/graph consistency, checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.evaluate import (
    evaluate_entities,
    evaluate_pairs,
    evaluate_triples,
    triples_to_entities,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.graph import (
    check_graph_consistency,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    extract_triples,
    run_pipeline,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.reference_port import (
    run_reference_logic,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
    resume_filter,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
    golden_triples,
)

N = 400


@pytest.fixture(scope="module")
def docs(spark):
    return generate_corpus(spark, N, seed=42).cache()


@pytest.fixture(scope="module")
def triples(spark, docs):
    return extract_triples(docs).cache()


def test_accuracy_vs_golden(spark, docs, triples):
    gold = golden_triples(spark, N, seed=42)
    res = evaluate_triples(triples, gold)
    print("golden eval:", res)
    assert res["precision"] >= 0.97, res
    assert res["recall"] >= 0.97, res
    pair_res = evaluate_pairs(triples, gold)
    assert pair_res["f1"] >= res["f1"] - 1e-9  # pair match is never harder
    ent_res = evaluate_entities(triples_to_entities(triples), triples_to_entities(gold))
    assert ent_res["f1"] >= pair_res["f1"] - 1e-9  # entity match never harder


def test_parity_vs_reference_logic(spark, docs, triples):
    """The Spark pipeline emits exactly the reference-logic run's triple set
    (BASELINE.json's parity metric, checked as set equality)."""
    rows = docs.select("url", "text", "lang").collect()
    want = set(run_reference_logic([r.asDict() for r in rows])["merge"])
    got = {tuple(r) for r in triples.collect()}
    assert got == want, (
        f"spark-only={sorted(got - want)[:5]} port-only={sorted(want - got)[:5]}"
    )
    assert len(want) > 300


def test_linking_and_graph(spark, docs):
    result = run_pipeline(spark, docs, catalog=None, with_metrics=False)
    nodes = result["nodes"].cache()
    edges = result["edges"].cache()
    stats = check_graph_consistency(nodes, edges)
    assert stats["dangling_endpoints"] == 0
    assert stats["n_nodes"] > 0 and stats["n_edges"] > 0
    # canonical names carry no title suffixes and no simplified script
    bad = nodes.where(
        F.col("canonical_name").rlike("(博士|教授|先生|老師)$")
    ).count()
    assert bad == 0
    # some node must have merged a title alias (aliases > 1)
    assert nodes.where(F.size("aliases") > 1).count() > 0


def test_repeated_extract_no_persist_leak(spark):
    """A driver looping extract_triples leaves no storage block behind:
    extraction is one Python crossing per document and persists nothing
    (``cache=True`` is accepted and has no effect)."""
    small = generate_corpus(spark, 30, seed=7)
    baseline = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    for _ in range(10):
        extract_triples(small, cache=True).count()
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after == baseline, (baseline, after)


def test_taxonomy_metric_counts_annotated_relations(spark, docs, tmp_path):
    """``metrics["taxonomy"]["n_distinct_relations"]`` is the number of
    distinct raw relation words in the annotated stage."""
    cat = StageCatalog(str(tmp_path / "stages"))
    res = run_pipeline(spark, docs, catalog=cat, with_metrics=True)
    words = set()
    for r in cat.read_stage(spark, "annotated").select("gemini_relations", "gpt_relations").collect():
        words.update(r["gemini_relations"] or [])
        words.update(r["gpt_relations"] or [])
    assert res["metrics"]["taxonomy"]["n_distinct_relations"] == len(words) > 0


def test_checkpoint_resume(spark, docs, tmp_path):
    cat = StageCatalog(str(tmp_path / "stages"))
    r1 = run_pipeline(spark, docs, catalog=cat, with_metrics=True)
    n1 = r1["triples"].count()
    assert cat.has_stage("annotated") and cat.has_stage("expanded")
    assert cat.manifest("consensus")["inputs"]["annotated"]
    lin = cat.lineage("expanded")
    assert lin["inputs"][0]["stage"] == "consensus"
    assert r1["metrics"]["consensus"]["n_consensus_triples"] > 0

    # resume run must reuse stage tables and produce identical output
    r2 = run_pipeline(spark, docs, catalog=cat, resume=True, with_metrics=False)
    assert r2["triples"].count() == n1
    # document-level resume: everything already processed → empty remainder
    remaining = resume_filter(docs.select("url"), cat, "annotated")
    assert remaining.count() == docs.where(F.col("lang") != "zh").count()

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
    result = run_pipeline(spark, docs, catalog=None)
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


def test_document_counters_cost_no_job(spark, docs, tmp_path):
    """The ``documents`` stage's counters are observed on its write: a
    catalog build with ``with_metrics=True`` runs exactly as many Spark jobs
    as one with ``False``, and ``metrics["documents"]`` equals a
    groupBy/agg recomputation over the read-back stage
    (``n_distinct_relations``: the distinct raw relation words)."""
    docs.count()  # the cached corpus is materialized before either build
    sc = spark.sparkContext

    def build(name, with_metrics):
        cat = StageCatalog(str(tmp_path / name))
        sc.setJobGroup(name, name)
        try:
            res = run_pipeline(spark, docs, catalog=cat, with_metrics=with_metrics)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return cat, res, len(sc.statusTracker().getJobIdsForGroup(name))

    cat, res, jobs_with = build("with_metrics", True)
    _, _, jobs_without = build("without_metrics", False)
    assert jobs_with == jobs_without > 0

    back = cat.read_stage(spark, "documents")
    want = {"n_docs": back.count()}
    for r in back.groupBy("gemini_has_relation", "gpt_has_relation").count().collect():
        want[f"gemini={r['gemini_has_relation']},gpt={r['gpt_has_relation']}"] = r["count"]
    words = set()
    for r in back.select("gemini_relations", "gpt_relations").collect():
        words.update(r["gemini_relations"] or [])
        words.update(r["gpt_relations"] or [])
    want["n_distinct_relations"] = len(words)
    agg = back.agg(
        *[F.sum((F.col(f"{a}_attempts") > 1).cast("int")).alias(f"{a}_retried_docs") for a in ("gemini", "gpt")],
        F.sum(F.size("consensus_label")).alias("n_consensus_triples"),
        *[F.sum(F.col(f"{a}_verify_error").cast("int")).alias(f"{a}_verify_errors") for a in ("gemini", "gpt")],
        *[F.sum(F.col(f"{a}_parse_error").cast("int")).alias(f"{a}_parse_errors") for a in ("gemini", "gpt")],
    ).collect()[0]
    want.update({k: int(v or 0) for k, v in agg.asDict().items()})
    expanded = back.filter(F.size("consensus_label") > 0)
    for r in expanded.groupBy("density").count().collect():
        want[f"density_{r['density']}"] = r["count"]
    agg = expanded.agg(
        F.sum(F.size("expansion_ternary")).alias("n_expansion_triples"),
        F.sum(F.col("expansion_failed").cast("int")).alias("expansion_failures"),
        F.sum(F.size("merge_label")).alias("n_merged_triples"),
    ).collect()[0]
    want.update({k: int(v or 0) for k, v in agg.asDict().items()})

    assert res["metrics"]["documents"] == want
    assert cat.manifest("documents")["metrics"] == want
    assert want["n_docs"] == docs.where(F.col("lang") == "zh").count()
    assert want["n_distinct_relations"] > 0 and want["n_merged_triples"] > 0


def test_checkpoint_resume(spark, docs, tmp_path):
    cat = StageCatalog(str(tmp_path / "stages"))
    r1 = run_pipeline(spark, docs, catalog=cat)
    n1 = r1["triples"].count()
    assert cat.has_stage("documents") and cat.has_stage("triples")
    assert cat.manifest("triples")["inputs"]["documents"] == cat.manifest("documents")["snapshot_id"]
    lin = cat.lineage("triples")
    assert lin["inputs"][0]["stage"] == "documents"
    assert lin["inputs"][0]["inputs"][0] == {"stage": "web_pages", "external": True, "inputs": []}
    assert r1["metrics"]["documents"]["n_consensus_triples"] > 0

    # resume run must reuse stage tables and produce identical output
    r2 = run_pipeline(spark, docs, catalog=cat, resume=True)
    assert r2["triples"].count() == n1
    # document-level resume: every zh doc, with or without a consensus, is
    # in the documents stage → the remainder is exactly the non-zh docs
    remaining = resume_filter(docs.select("url"), cat, "documents")
    assert remaining.count() == docs.where(F.col("lang") != "zh").count()

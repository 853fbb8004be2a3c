"""KG value gates: the Spark pipeline's triple, replay, node and edge sets
on the 600-doc, seed-42 corpus equal the plain-Python answer
(plans/port_fixtures.py:port_kg_outputs) exactly — no thresholds.

Nodes and edges are compared keyed by canonical name, so the Spark-only
xxhash64 person id drops out; build_edges' id resolution is still exercised,
because edges are re-keyed through the node table."""

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.re_replay import (
    generation_replay_stage,
    re_replay_stage,
    replay_triples,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    expanded_frame,
    extract_triples,
    run_pipeline,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.port_fixtures import (
    port_kg_outputs,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)

N_DOCS, SEED = 600, 42


@pytest.fixture(scope="module")
def port():
    return port_kg_outputs(n_docs=N_DOCS, seed=SEED)


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, N_DOCS, seed=SEED).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def graph(spark, corpus):
    res = run_pipeline(spark, corpus, catalog=None)
    nodes, edges = res["nodes"].persist(), res["edges"].persist()
    yield nodes, edges
    nodes.unpersist()
    edges.unpersist()


def _assert_same(name, got, want):
    got, want = set(got), set(want)
    assert got == want, (
        f"{name}: spark-only={sorted(got - want)[:5]} port-only={sorted(want - got)[:5]}"
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_extract_triples(corpus, port):
    _assert_same("kg_triples", _rows(extract_triples(corpus)), port["kg_triples"])
    assert len(port["kg_triples"]) > 300


def test_union_expansion_triples(corpus, port):
    exp = expanded_frame(corpus, ner_sources=("ckip", "gemini", "union"))
    got = (
        exp.filter(F.size("union_expansion_merge_label_1024") > 0)
        .select("url", F.explode("union_expansion_merge_label_1024").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
        .distinct()
    )
    _assert_same("kg_union_expansion", _rows(got), port["kg_union_expansion"])


def test_ner_re_replay(corpus, port):
    got = replay_triples(re_replay_stage(expanded_frame(corpus)), model_name="mt5")
    _assert_same("kg_ner_re_replay", _rows(got), port["kg_ner_re_replay"])


def test_generation_replay(corpus, port):
    got = replay_triples(generation_replay_stage(expanded_frame(corpus)), model_name="gen")
    _assert_same("kg_generation_replay", _rows(got), port["kg_generation_replay"])


def test_pipeline_nodes(graph, port):
    nodes, _ = graph
    got = nodes.select("canonical_name", F.size("aliases").alias("n_aliases"), "n_docs")
    _assert_same("kg_nodes_pipeline", _rows(got), port["kg_nodes_pipeline"])
    assert any(n_aliases > 1 for _, n_aliases, _ in port["kg_nodes_pipeline"])


def test_pipeline_edges(graph, port):
    nodes, edges = graph
    names = nodes.select("person_id", "canonical_name")
    got = (
        edges.join(names.toDF("subj_id", "subj_name"), "subj_id")
        .join(names.toDF("obj_id", "obj_name"), "obj_id")
        .select("subj_name", "obj_name", "rel", "n_docs")
    )
    _assert_same("kg_edges_pipeline", _rows(got), port["kg_edges_pipeline"])
    assert any(n_docs > 1 for *_, n_docs in port["kg_edges_pipeline"])

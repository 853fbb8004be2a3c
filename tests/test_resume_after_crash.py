"""Kill-and-rerun resumability (BASELINE target): a run interrupted after the
documents stage must resume from the surviving stage table, recompute only
downstream stages, and emit identical outputs."""

import shutil

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    run_pipeline,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
    resume_filter,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)

N = 200


def _outputs(res):
    return {k: sorted(map(tuple, res[k].collect())) for k in ("triples", "nodes", "edges")}


def test_resume_recomputes_only_missing_stage(spark, tmp_path):
    docs = generate_corpus(spark, N, seed=42).cache()
    root = str(tmp_path / "stages")
    cat = StageCatalog(root)
    expected = _outputs(run_pipeline(spark, docs, catalog=cat))
    documents_snapshot = cat.manifest("documents")["snapshot_id"]
    lost = {name: cat.manifest(name)["snapshot_id"] for name in ("triples", "nodes", "edges")}

    # simulate a crash that lost every stage after documents; the data dir
    # comes from the manifest (snapshots live under <name>__snaps/snap-<id>,
    # a sibling of the flat path)
    for name in lost:
        shutil.rmtree(cat.manifest(name)["data_dir"])
        (tmp_path / "stages" / f"{name}.manifest.json").unlink()

    resumed = run_pipeline(spark, docs, catalog=cat, resume=True)
    assert _outputs(resumed) == expected
    # the documents stage was reused, not recomputed (snapshot id unchanged)
    assert cat.manifest("documents")["snapshot_id"] == documents_snapshot
    # the recomputed stages are new snapshots whose lineage re-links to the
    # surviving documents snapshot
    for name, old in lost.items():
        assert cat.manifest(name)["snapshot_id"] != old
        assert cat.lineage(name)["inputs"][0]["snapshot_id"] == documents_snapshot


def test_resume_over_complete_catalog_commits_nothing(spark, tmp_path):
    """A resume over a complete catalog reuses every stage, through
    triples, nodes and edges: each stage keeps one snapshot, and the
    resumed outputs equal the catalog-free run."""
    docs = generate_corpus(spark, 60, seed=42).cache()
    expected = _outputs(run_pipeline(spark, docs, catalog=None))
    assert expected["triples"] and expected["nodes"] and expected["edges"]
    cat = StageCatalog(str(tmp_path / "stages"))
    run_pipeline(spark, docs, catalog=cat)
    resumed = run_pipeline(spark, docs, catalog=cat, resume=True)
    assert _outputs(resumed) == expected
    stages = ("documents", "triples", "nodes", "edges")
    assert {name: len(cat.snapshots(name)) for name in stages} == dict.fromkeys(stages, 1)


def test_document_level_resume_filter(spark, tmp_path):
    """Per-partition/incremental resume: half-written stage output → only the
    unprocessed urls remain (the reference's every-100-rows CSV flush,
    as a distributed anti-join)."""
    docs = generate_corpus(spark, N, seed=42).select("url")
    cat = StageCatalog(str(tmp_path / "stages"))
    half = docs.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half.write.parquet(cat._path("annotated"))

    remaining = resume_filter(docs, cat, "annotated")
    assert remaining.count() == docs.count() - half.count()
    assert remaining.join(half, "url", "inner").count() == 0


def test_append_partial_and_finalize(spark, tmp_path):
    """Incremental stage build (round-3 verdict item 8 plumbing): chunked
    kill-safe appends leave has_stage False until finalize_stage writes the
    manifest; resume_filter sees exactly the committed chunks; the finalized
    stage reads back complete with the appended-union schema and lineage."""
    docs = generate_corpus(spark, N, seed=42).select("url", "text")
    cat = StageCatalog(str(tmp_path / "stages"))

    c0 = docs.where(F.pmod(F.hash("url"), F.lit(3)) == 0)
    cat.append_partial(c0, "annotated")
    assert not cat.has_stage("annotated")  # committed data, no manifest yet
    remaining = resume_filter(docs, cat, "annotated")
    assert remaining.count() == docs.count() - c0.count()

    for i in (1, 2):
        cat.append_partial(
            remaining.where(F.pmod(F.hash("url"), F.lit(3)) == i), "annotated"
        )
    cat.finalize_stage("annotated", inputs=["web_pages"], metrics={"n_docs": N})
    assert cat.has_stage("annotated")
    back = cat.read_stage(spark, "annotated")
    assert back.count() == docs.count()
    assert set(back.columns) == {"url", "text"}
    assert cat.manifest("annotated")["metrics"] == {"n_docs": N}
    # nothing left to resume
    assert resume_filter(docs, cat, "annotated").count() == 0


def test_corpus_without_zh_docs_through_catalog(spark, tmp_path):
    """A corpus with no zh document gives empty stages; each still commits
    and reads back, so the catalog run, and its resume, equal the
    catalog-free run (empty triples, nodes and edges)."""
    docs = generate_corpus(spark, 40, seed=42).filter(F.col("lang") != "zh").cache()
    assert docs.count() > 0
    expected = _outputs(run_pipeline(spark, docs, catalog=None))
    assert expected == {"triples": [], "nodes": [], "edges": []}
    cat = StageCatalog(str(tmp_path / "stages"))
    assert _outputs(run_pipeline(spark, docs, catalog=cat)) == expected
    assert cat.has_stage("documents")
    assert cat.manifest("documents")["metrics"]["n_docs"] == 0
    assert _outputs(run_pipeline(spark, docs, catalog=cat, resume=True)) == expected

"""Kill-and-rerun resumability (BASELINE target): a run interrupted after the
consensus stage must resume from the surviving stage tables, recompute only
downstream stages, and emit identical triples."""

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


def test_resume_recomputes_only_missing_stage(spark, tmp_path):
    docs = generate_corpus(spark, N, seed=42).cache()
    root = str(tmp_path / "stages")
    cat = StageCatalog(root)
    full = run_pipeline(spark, docs, catalog=cat, with_metrics=False)
    expected = sorted(map(tuple, full["triples"].collect()))
    annotated_snapshot = cat.manifest("annotated")["snapshot_id"]

    # simulate a crash that lost the expansion stage (and everything after);
    # the data dir comes from the manifest (r6: snapshots live under
    # <name>__snaps/snap-<id>, a sibling of the flat legacy path)
    shutil.rmtree(cat.manifest("expanded")["data_dir"])
    (tmp_path / "stages" / "expanded.manifest.json").unlink()

    resumed = run_pipeline(spark, docs, catalog=cat, resume=True, with_metrics=False)
    assert sorted(map(tuple, resumed["triples"].collect())) == expected
    # upstream stages were reused, not recomputed (snapshot ids unchanged)
    assert cat.manifest("annotated")["snapshot_id"] == annotated_snapshot
    # the recomputed stage re-links its lineage to the surviving consensus
    assert cat.lineage("expanded")["inputs"][0]["snapshot_id"] == cat.manifest(
        "consensus"
    )["snapshot_id"]
    # a new expanded snapshot forces new triples over it
    assert cat.lineage("triples")["inputs"][0]["snapshot_id"] == cat.manifest(
        "expanded"
    )["snapshot_id"]


def test_resume_over_complete_catalog_commits_nothing(spark, tmp_path):
    """A resume over a complete catalog reuses every stage, through
    triples, nodes and edges: each stage keeps one snapshot, and the
    resumed outputs equal the catalog-free run."""
    docs = generate_corpus(spark, 60, seed=42).cache()

    def outputs(res):
        return {k: sorted(map(tuple, res[k].collect())) for k in ("triples", "nodes", "edges")}

    expected = outputs(run_pipeline(spark, docs, catalog=None, with_metrics=False))
    assert expected["triples"] and expected["nodes"] and expected["edges"]
    cat = StageCatalog(str(tmp_path / "stages"))
    run_pipeline(spark, docs, catalog=cat, with_metrics=False)
    resumed = run_pipeline(spark, docs, catalog=cat, resume=True, with_metrics=False)
    assert outputs(resumed) == expected
    stages = ("annotated", "consensus", "expanded", "triples", "nodes", "edges")
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

    def outputs(res):
        return {k: sorted(map(tuple, res[k].collect())) for k in ("triples", "nodes", "edges")}

    expected = outputs(run_pipeline(spark, docs, catalog=None, with_metrics=False))
    assert expected == {"triples": [], "nodes": [], "edges": []}
    cat = StageCatalog(str(tmp_path / "stages"))
    assert outputs(run_pipeline(spark, docs, catalog=cat)) == expected
    assert cat.has_stage("expanded")
    assert outputs(run_pipeline(spark, docs, catalog=cat, resume=True)) == expected

"""Iceberg-style snapshot chain on the stage catalog (sources/catalog.py):
every write_stage commits a new snapshot, reads default to the newest,
as_of time-travels, rollback is a metadata flip, expire_snapshots drops old
data (but never the current snapshot), and the resume/bucket paths still
work on the versioned layout."""

import os

import pytest
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
    resume_filter,
)


def _rows(spark, ids):
    return spark.createDataFrame([(i, f"u{i}") for i in ids], "doc_id long, url string")


@pytest.fixture()
def cat(tmp_path):
    return StageCatalog(str(tmp_path / "cat"))


def test_timetravel_and_rollback(spark, cat):
    s1 = cat.write_stage(_rows(spark, range(3)), "docs")
    s2 = cat.write_stage(_rows(spark, range(5)), "docs")
    assert [s["snapshot_id"] for s in cat.snapshots("docs")] == [s1, s2]
    assert cat.read_stage(spark, "docs").count() == 5
    assert cat.read_stage(spark, "docs", as_of=s1).count() == 3
    assert cat.manifest("docs")["snapshot_id"] == s2

    cat.rollback("docs", s1)
    assert cat.read_stage(spark, "docs").count() == 3
    assert cat.has_stage("docs")
    # the newer snapshot is still reachable by id after the rollback
    assert cat.read_stage(spark, "docs", as_of=s2).count() == 5
    with pytest.raises(KeyError):
        cat.rollback("docs", "nope")


def test_expire_keeps_current_and_recent(spark, cat):
    sids = [cat.write_stage(_rows(spark, range(n)), "d") for n in (2, 3, 4, 5)]
    cat.rollback("d", sids[0])  # current = OLDEST
    expired = cat.expire_snapshots("d", keep_last=2)
    assert set(expired) == {sids[1]}  # oldest is current → kept; newest 2 kept
    assert cat.read_stage(spark, "d").count() == 2  # current survived GC
    assert cat.read_stage(spark, "d", as_of=sids[3]).count() == 5
    with pytest.raises(KeyError):
        cat.read_stage(spark, "d", as_of=sids[1])


def test_bucket_pruning_survives_versioning(spark, cat):
    cat.write_stage(_rows(spark, range(40)), "b", bucket_col="url", n_buckets=4)
    df = cat.read_stage(spark, "b", bucket=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan
    total = sum(
        cat.read_stage(spark, "b", bucket=k).count() for k in range(4)
    )
    assert total == 40


def test_resume_filter_uses_current_snapshot(spark, cat):
    cat.write_stage(_rows(spark, range(4)), "done")
    pending = resume_filter(_rows(spark, range(6)), cat, "done")
    assert sorted(r["doc_id"] for r in pending.collect()) == [4, 5]


def test_lineage_records_parent_snapshots(spark, cat):
    s1 = cat.write_stage(_rows(spark, range(3)), "raw")
    cat.write_stage(
        _rows(spark, range(2)), "clean", inputs=["raw"], metrics={"n": 2}
    )
    tree = cat.lineage("clean")
    assert tree["inputs"][0]["snapshot_id"] == s1


def test_flat_finalized_stage_isolated_from_new_snapshots(spark, cat):
    """r5 advice (medium): a stage finalized FLAT (append_partial +
    finalize_stage → data_dir = the flat root) must stay readable as-of its
    flat snapshot even after later write_stage commits — snapshots live in
    a sibling <name>__snaps dir, so they can never nest inside (and leak
    into) the flat snapshot's recursive parquet listing."""
    cat.append_partial(_rows(spark, range(3)), "s")
    flat_sid = cat.finalize_stage("s")
    cat.write_stage(_rows(spark, range(10)), "s")  # newer, bigger snapshot
    assert cat.read_stage(spark, "s").count() == 10  # current = newest
    assert cat.read_stage(spark, "s", as_of=flat_sid).count() == 3  # no leak


def test_failed_commit_keeps_previous_snapshot(spark, cat):
    """A commit that fails part-way (here: metrics that do not serialise)
    leaves the snapshot log and the current manifest as they were."""
    s1 = cat.write_stage(_rows(spark, range(2)), "s1", metrics={"n": 2})
    with pytest.raises(TypeError):
        cat.write_stage(_rows(spark, range(5)), "s1", metrics={"n": object()})
    assert [s["snapshot_id"] for s in cat.snapshots("s1")] == [s1]
    assert cat.manifest("s1")["snapshot_id"] == s1
    assert cat.read_stage(spark, "s1").count() == 2


def test_resume_filter_empty_vs_unreadable_partial(spark, cat):
    """No committed data file (only an interrupted chunk's ``_temporary``)
    means nothing is done yet; a committed file that cannot be read is an
    error, never "nothing done"."""
    docs = _rows(spark, range(2))
    assert resume_filter(docs, cat, "annotated").count() == 2  # no dir yet
    tmp_dir = os.path.join(cat._path("annotated"), "_temporary", "0")
    os.makedirs(tmp_dir)
    with open(os.path.join(tmp_dir, "part-00000.parquet"), "wb") as f:
        f.write(b"half a chunk")
    assert resume_filter(docs, cat, "annotated").count() == 2

    with open(os.path.join(cat._path("annotated"), "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        resume_filter(docs, cat, "annotated").count()

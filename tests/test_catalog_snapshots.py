"""Iceberg-style snapshot chain on the stage catalog (sources/catalog.py):
every write_stage commits a new snapshot of plain parquet, reads default to
the newest, as_of time-travels, and the resume paths still work on the
versioned layout."""

import os
import shutil

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


def test_timetravel(spark, cat):
    s1 = cat.write_stage(_rows(spark, range(3)), "docs")
    s2 = cat.write_stage(_rows(spark, range(5)), "docs")
    assert [s["snapshot_id"] for s in cat.snapshots("docs")] == [s1, s2]
    assert cat.read_stage(spark, "docs").count() == 5
    assert cat.read_stage(spark, "docs", as_of=s1).count() == 3
    assert cat.manifest("docs")["snapshot_id"] == s2
    with pytest.raises(KeyError):
        cat.read_stage(spark, "docs", as_of="nope")
    # a snapshot whose data directory is gone cannot be read as of
    shutil.rmtree(cat.snapshots("docs")[0]["data_dir"])
    with pytest.raises(KeyError):
        cat.read_stage(spark, "docs", as_of=s1)
    assert cat.read_stage(spark, "docs").count() == 5


def test_stage_written_as_plain_parquet(spark, cat):
    """A stage keeps its input's partitioning: at most one data file per
    input partition, no partition subdirectories, no layout keys in the
    manifest, and the stage reads back with the written columns."""
    k = 3
    df = _rows(spark, range(40)).repartition(k)
    cat.write_stage(df, "plain")
    data_dir = cat.manifest("plain")["data_dir"]
    entries = os.listdir(data_dir)
    assert len([f for f in entries if not f.startswith((".", "_"))]) <= k
    assert not any(e.startswith("_bucket=") for e in entries)
    assert not {"bucket_col", "n_buckets"} & cat.manifest("plain").keys()
    assert cat.read_stage(spark, "plain").columns == df.columns


def test_resume_filter_uses_current_snapshot(spark, cat):
    cat.write_stage(_rows(spark, range(4)), "done")
    pending = resume_filter(_rows(spark, range(6)), cat, "done")
    assert sorted(r["doc_id"] for r in pending.collect()) == [4, 5]


def test_lineage_records_parent_snapshots(spark, cat):
    s1 = cat.write_stage(_rows(spark, range(3)), "raw")
    cat.write_stage(
        _rows(spark, range(2)), "clean", inputs=["raw"], counters={"n": F.count("*")}
    )
    tree = cat.lineage("clean")
    assert tree["inputs"][0]["snapshot_id"] == s1
    assert tree["metrics"] == {"n": 2}


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
    """A commit that fails part-way (here: a counter whose value, a
    decimal, does not serialise to JSON) leaves the snapshot log and the
    current manifest as they were."""
    s1 = cat.write_stage(_rows(spark, range(2)), "s1", counters={"n": F.count("*")})
    unserialisable = F.sum(F.lit(1).cast("decimal(10,2)"))
    with pytest.raises(TypeError):
        cat.write_stage(_rows(spark, range(5)), "s1", counters={"n": unserialisable})
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

"""Stage catalog — checkpointed stage tables with lineage + metrics.

The reference checkpoints the whole document table to CSV after every stage
(reference ``CommonCrawl/data/train/postprecess.py:52,81,128,268``); we keep
the stage-granular checkpoint idea but as partitioned parquet tables with a
JSON manifest per snapshot carrying lineage (input stages + their snapshot
ids) and pipeline counters (extraction/link/classify metrics).

On a production cluster these writes become Iceberg ``writeTo(...)`` calls —
the manifest maps 1:1 onto Iceberg snapshot summary properties; parquet keeps
the sandbox dependency-free. Each ``write_stage`` commits a NEW snapshot
(own ``snap-<id>`` data dir + an entry in the per-stage snapshot log, then
the current-manifest pointer flips — Iceberg's metadata-commit order, so a
crash mid-commit never corrupts the readable table). ``read_stage(...,
as_of=...)`` time-travels, ``rollback`` is a metadata flip, and
``expire_snapshots`` is the data-GC maintenance job. Tables are written
repartitioned by
``hash(url)`` so downstream url-keyed joins reuse the layout, and resume is
per-partition: an interrupted run anti-joins already-processed urls
(``resume_filter``) exactly like the reference's incremental CSV flush
(``sota_ner/gemini_expansion.py:219-221``) but without ever collecting to the
driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON atomically: serialise first,
    write a temp file in the same directory, then ``os.replace`` it over the
    old file — a failed serialisation or a crash mid-write leaves the old
    file whole."""
    text = json.dumps(obj, ensure_ascii=False, indent=1)
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def _has_data_files(path: str) -> bool:
    """True when ``path`` holds a file Spark's file listing would read:
    names starting with ``.`` or ``_`` (``_SUCCESS``, ``_temporary``) are
    skipped, ``_k=v`` partition directories are not."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        ]
        if any(not f.startswith((".", "_")) for f in files):
            return True
    return False


class StageCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    def has_stage(self, name: str) -> bool:
        if not os.path.exists(self._manifest_path(name)):
            return False
        return os.path.exists(os.path.join(self._data_dir(name), "_SUCCESS"))

    def _data_dir(self, name: str, as_of: str | None = None) -> str:
        """Resolve a stage's data directory: the requested snapshot from the
        chain, else the CURRENT manifest's dir, else the flat legacy/partial
        path (append_partial writes there before any manifest exists)."""
        if as_of is not None:
            for snap in self.snapshots(name):
                if snap["snapshot_id"] == as_of:
                    if not os.path.exists(snap["data_dir"]):
                        raise KeyError(
                            f"snapshot {as_of!r} of stage {name!r} has been expired"
                        )
                    return snap["data_dir"]
            raise KeyError(f"stage {name!r} has no snapshot {as_of!r}")
        try:
            return self.manifest(name).get("data_dir") or self._path(name)
        except FileNotFoundError:
            return self._path(name)

    def write_stage(
        self,
        df: DataFrame,
        name: str,
        *,
        inputs: list[str] | None = None,
        metrics: dict | None = None,
        bucket_col: str = "url",
        n_buckets: int | None = None,
    ) -> str:
        """Write a stage table; returns its snapshot id.

        When ``bucket_col`` is present, the table is written PARTITIONED by a
        materialized ``_bucket = pmod(hash(bucket_col), n_buckets)`` column
        (one directory per bucket, pre-shuffled so each bucket is one file):
        the Iceberg ``bucket(N, url)`` partition transform in parquet terms.
        A bucket-filtered ``read_stage(..., bucket=k)`` then PRUNES the scan
        to that directory (visible as ``PartitionFilters`` in the plan —
        SURVEY §1.4's url-hash-bucket pruning promise), and the shared layout
        co-locates url-keyed joins across stages.
        """
        spark = df.sparkSession
        n_buckets = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
        schema_json = df.schema.jsonValue()  # logical schema, sans _bucket
        snapshot_id = uuid.uuid4().hex[:16]
        # snapshots live in a SIBLING dir that is never itself a parquet read
        # root (r5 advice): nesting snap-<id> under the flat legacy path
        # (which append_partial/finalize_stage use as a data_dir) would make
        # a flat-snapshot read recursively list newer snapshots' files
        data_dir = os.path.join(self._path(f"{name}__snaps"), f"snap-{snapshot_id}")
        if bucket_col and bucket_col in df.columns:
            df = df.withColumn(
                "_bucket", F.pmod(F.hash(F.col(bucket_col)), F.lit(n_buckets))
            )
            df = df.repartition(n_buckets, F.col("_bucket"))
            df.write.mode("overwrite").partitionBy("_bucket").parquet(data_dir)
        else:
            df.write.mode("overwrite").parquet(data_dir)

        return self._write_manifest(
            name,
            inputs=inputs,
            metrics=metrics,
            schema_json=schema_json,
            bucket_col=bucket_col,
            n_buckets=n_buckets,
            snapshot_id=snapshot_id,
            data_dir=data_dir,
        )

    def _snapshot_log_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.snapshots.json")

    def _write_manifest(
        self,
        name: str,
        *,
        inputs: list[str] | None,
        metrics: dict | None,
        schema_json: dict,
        bucket_col: str | None,
        n_buckets: int,
        snapshot_id: str | None = None,
        data_dir: str | None = None,
    ) -> str:
        snapshot_id = snapshot_id or uuid.uuid4().hex[:16]
        parents = {}
        for inp in inputs or []:
            try:
                with open(self._manifest_path(inp), encoding="utf-8") as f:
                    parents[inp] = json.load(f)["snapshot_id"]
            except FileNotFoundError:
                parents[inp] = None
        manifest = {
            "stage": name,
            "snapshot_id": snapshot_id,
            "created_at": time.time(),
            "inputs": parents,
            "metrics": metrics or {},
            "schema": schema_json,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
            "data_dir": data_dir or self._path(name),
        }
        # append to the snapshot chain FIRST, then flip the current pointer
        # (the manifest) — a crash between the two leaves the old current
        # snapshot intact and the new one merely unreferenced (Iceberg's
        # metadata-commit order)
        log = self.snapshots(name)
        log.append(manifest)
        _write_json(self._snapshot_log_path(name), log)
        _write_json(self._manifest_path(name), manifest)
        return snapshot_id

    def snapshots(self, name: str) -> list[dict]:
        """The stage's snapshot chain, oldest first (Iceberg snapshot log)."""
        try:
            with open(self._snapshot_log_path(name), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def rollback(self, name: str, snapshot_id: str) -> None:
        """Point the stage's CURRENT manifest back at an older snapshot (the
        Iceberg ``rollback_to_snapshot`` procedure): pure metadata flip, the
        data dirs never move. The rollback itself is appended to the chain
        so lineage records that it happened."""
        for snap in self.snapshots(name):
            if snap["snapshot_id"] == snapshot_id:
                _write_json(self._manifest_path(name), snap)
                return
        raise KeyError(f"stage {name!r} has no snapshot {snapshot_id!r}")

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[str]:
        """Drop the data of all but the newest ``keep_last`` snapshots (and
        never the CURRENT one, even if it is older — e.g. after a rollback):
        Iceberg's ``expire_snapshots`` maintenance job. Returns the expired
        snapshot ids; time-travel to them afterwards raises."""
        import shutil

        log = self.snapshots(name)
        current = self.manifest(name)["snapshot_id"] if log else None
        keep_ids = {s["snapshot_id"] for s in log[-keep_last:]} | {current}
        expired = []
        kept = []
        for snap in log:
            sid = snap["snapshot_id"]
            if sid in keep_ids:
                kept.append(snap)
                continue
            if snap["data_dir"] != self._path(name):
                shutil.rmtree(snap["data_dir"], ignore_errors=True)
            expired.append(sid)
        _write_json(self._snapshot_log_path(name), kept)
        return expired

    def append_partial(self, df: DataFrame, name: str) -> None:
        """Incremental, KILL-SAFE flush into an un-finalized stage table:
        each call is one parquet append job whose files become visible only
        on job commit, so an interrupted run leaves whole committed chunks
        (plus an ignored ``_temporary`` dir) and ``resume_filter`` drops
        exactly those rows on rerun — the reference's incremental CSV flush
        (``sota_ner/gemini_expansion.py:219-221``) without driver-side state.
        ``has_stage`` stays False (no manifest) until ``finalize_stage``."""
        df.write.mode("append").parquet(self._path(name))

    def finalize_stage(
        self,
        name: str,
        *,
        inputs: list[str] | None = None,
        metrics: dict | None = None,
    ) -> str:
        """Write the manifest for a stage built via ``append_partial`` —
        after this, ``has_stage`` is True and resumed pipelines read it like
        any checkpointed stage (on Iceberg this is the snapshot commit)."""
        spark = SparkSession.getActiveSession()
        schema_json = spark.read.parquet(self._path(name)).schema.jsonValue()
        return self._write_manifest(
            name,
            inputs=inputs,
            metrics=metrics,
            schema_json=schema_json,
            bucket_col=None,
            n_buckets=0,
        )

    def read_stage(
        self,
        spark: SparkSession,
        name: str,
        bucket: int | None = None,
        keep_bucket: bool = False,
        as_of: str | None = None,
    ) -> DataFrame:
        """Read a stage table. ``bucket=k`` filters on the ``_bucket``
        partition column — a directory-pruned scan (only that bucket's files
        are listed/read); the synthetic ``_bucket`` column is dropped unless
        ``keep_bucket`` so consumers see the logical stage schema.
        ``as_of=<snapshot_id>`` time-travels to an older snapshot in the
        chain (Iceberg ``VERSION AS OF``)."""
        df = spark.read.parquet(self._data_dir(name, as_of))
        if bucket is not None:
            df = df.where(F.col("_bucket") == bucket)
        if "_bucket" in df.columns and not keep_bucket:
            df = df.drop("_bucket")
        return df

    def manifest(self, name: str) -> dict:
        with open(self._manifest_path(name), encoding="utf-8") as f:
            return json.load(f)

    def lineage(self, name: str) -> dict:
        """Transitive lineage tree for a stage (manifest chain); inputs with
        no manifest (e.g. the raw web_pages source) appear as external."""
        try:
            node = self.manifest(name)
        except FileNotFoundError:
            return {"stage": name, "external": True, "inputs": []}
        return {
            "stage": name,
            "snapshot_id": node["snapshot_id"],
            "metrics": node["metrics"],
            "inputs": [self.lineage(i) for i in node["inputs"]],
        }


def resume_filter(df: DataFrame, catalog: StageCatalog, stage: str, key: str = "url") -> DataFrame:
    """Document-level resume: drop rows whose ``key`` already exists in a
    (possibly partial) prior output of ``stage`` — a distributed anti-join,
    never a driver-side set. Only a stage with no committed data file (no
    directory, or an interrupted first chunk's ``_temporary`` alone) counts
    as nothing done; any read error on committed files propagates."""
    path = catalog._data_dir(stage)
    if not _has_data_files(path):
        return df
    done = df.sparkSession.read.parquet(path).select(key)
    return df.join(done, on=key, how="left_anti")

"""Stage catalog — checkpointed stage tables with lineage + metrics.

The reference checkpoints the whole document table to CSV after every stage
(reference ``CommonCrawl/data/train/postprecess.py:52,81,128,268``); we keep
the stage-granular checkpoint idea but as plain parquet tables with a JSON
manifest per snapshot carrying lineage (input stages + their snapshot ids)
and pipeline counters (extraction/link/classify metrics).

On a production cluster these writes become Iceberg ``writeTo(...)`` calls —
the manifest maps 1:1 onto Iceberg snapshot summary properties; parquet keeps
the sandbox dependency-free. Each ``write_stage`` commits a NEW snapshot
(own ``snap-<id>`` data dir + an entry in the per-stage snapshot log, then
the current-manifest pointer flips — Iceberg's metadata-commit order, so a
crash mid-commit never corrupts the readable table), and ``read_stage(...,
as_of=...)`` time-travels. A stage is written with its input's
partitioning, so its files follow the data. Resume is per document: an
interrupted run anti-joins already-processed urls (``resume_filter``)
exactly like the reference's incremental CSV flush
(``sota_ner/gemini_expansion.py:219-221``) but without ever collecting to the
driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession


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
    skipped."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
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

    def is_current(self, name: str, inputs: list[str]) -> bool:
        """True when the stage is committed and every input snapshot its
        manifest records is still that input's current snapshot (an input
        with no manifest, such as the raw source, records ``None``)."""
        return (
            self.has_stage(name)
            and self.manifest(name)["inputs"] == self._current_snapshots(inputs)
        )

    def _current_snapshots(self, names: list[str]) -> dict:
        """{name: current snapshot id, or None for a stage with no manifest}."""
        ids = {}
        for name in names:
            try:
                ids[name] = self.manifest(name)["snapshot_id"]
            except FileNotFoundError:
                ids[name] = None
        return ids

    def _data_dir(self, name: str, as_of: str | None = None) -> str:
        """Resolve a stage's data directory: the requested snapshot from the
        chain, else the CURRENT manifest's dir, else the flat path
        (append_partial writes there before any manifest exists)."""
        if as_of is not None:
            for snap in self.snapshots(name):
                if snap["snapshot_id"] == as_of:
                    if not os.path.exists(snap["data_dir"]):
                        raise KeyError(
                            f"snapshot {as_of!r} of stage {name!r} has no data "
                            f"directory {snap['data_dir']!r}"
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
        counters: dict[str, Column] | None = None,
    ) -> str:
        """Write a stage table as plain parquet in a new snapshot directory,
        one file per non-empty partition of ``df`` (an empty ``df`` still
        leaves a schema-only file); returns the snapshot id.

        ``counters`` ({name: aggregate column}) are observed on the write
        itself (``DataFrame.observe``), so they cost no Spark job; the
        manifest's metrics hold each one whose value is not null."""
        snapshot_id = uuid.uuid4().hex[:16]
        # snapshots live in a SIBLING dir that is never itself a parquet read
        # root: nesting snap-<id> under the flat path (which append_partial/
        # finalize_stage use as a data_dir) would make a flat-snapshot read
        # recursively list newer snapshots' files
        data_dir = os.path.join(self._path(f"{name}__snaps"), f"snap-{snapshot_id}")
        if counters:
            observation = Observation()
            df = df.observe(observation, *(c.alias(k) for k, c in counters.items()))
        df.write.mode("overwrite").parquet(data_dir)
        metrics = {}
        if counters:
            metrics = {k: v for k, v in observation.get.items() if v is not None}
        return self._write_manifest(
            name,
            inputs=inputs,
            metrics=metrics,
            schema_json=df.schema.jsonValue(),
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
        snapshot_id: str | None = None,
        data_dir: str | None = None,
    ) -> str:
        snapshot_id = snapshot_id or uuid.uuid4().hex[:16]
        manifest = {
            "stage": name,
            "snapshot_id": snapshot_id,
            "created_at": time.time(),
            "inputs": self._current_snapshots(inputs or []),
            "metrics": metrics or {},
            "schema": schema_json,
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
        )

    def read_stage(
        self, spark: SparkSession, name: str, as_of: str | None = None
    ) -> DataFrame:
        """Read a stage table: its current snapshot, or with
        ``as_of=<snapshot_id>`` an older snapshot in the chain (Iceberg
        ``VERSION AS OF``)."""
        return spark.read.parquet(self._data_dir(name, as_of))

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

"""The benchmark's workloads: seeded inputs, one measured loop each, and the
output check every measured iteration must pass.

The layers are reached through their module attributes (``P.extract_triples``
and so on), so the traced run can wrap them from outside.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    graph as G,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    linking as L,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans import (
    pipeline as P,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.reference_port import (
    run_reference_logic,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
    make_doc,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.streaming import (
    ingest as I,
)

from inputs import block_stats, link_oracle, link_tables, triple_hash
from procmon import tree_cpu_s

#: Input sizes. ``small`` is what the traced layer sweep uses for a layer the
#: measured workload does not itself exercise.
SIZES = {
    "extract": {"docs": 4000},
    "extract_small": {"docs": 1000},
    "link_graph": {"docs": 400, "people": 300, "n_salt": 4},
    "link_graph_small": {"docs": 300, "people": 200, "n_salt": 4},
    "checkpoint_resume": {"docs": 1000},
    # about half the ~210 docs/s the stream drains at local[4] (4 files per trigger)
    "stream": {"shard_docs": 200, "interval_s": 2.0},
}
TRIPLE_COLS = ("url", "subj", "obj", "rel")
FILES_PER_CORE = 2
#: discarded iterations before the window, the same on every workload: in
#: the first the JVM compiles the plan's hot paths (C1 only, see run.py)
#: and Spark forks the Python workers (one per Arrow UDF node per
#: concurrent task)
WARMUP_ITERATIONS = 1


def triples_digest(df):
    """Count and order-independent CRC-32 sum of a (url, subj, obj, rel)
    frame, in one aggregation (see ``inputs.triple_hash``)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.encode(F.concat_ws("\x1f", *TRIPLE_COLS), "UTF-8"))).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, nproc: int, seconds: float, small: bool):
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.nproc = nproc
        self.seconds = seconds
        self.small = small
        self.props: dict = {}
        self.work.mkdir(parents=True, exist_ok=True)

    def _fresh(self, sub: str) -> str:
        path = self.work / sub
        shutil.rmtree(path, ignore_errors=True)
        return str(path)

    # --- closed loop: subclasses define iterate() and check(out) ---
    def one(self, tracer, it: int):
        """One iteration: (wall seconds, output check passed, CPU seconds of
        the whole process tree)."""
        self.spark.catalog.clearCache()
        span = tracer.span(f"{self.name}.iteration", iteration=it) if tracer else contextlib.nullcontext()
        cpu = tree_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            with span:
                out = self.iterate()
            dt = time.perf_counter() - t
            cpu = tree_cpu_s(os.getpid()) - cpu
            return dt, self.check(out), cpu
        except Exception:  # noqa: BLE001 — a raising iteration counts as failed
            traceback.print_exc()
            return time.perf_counter() - t, False, float("nan")

    def warmup(self) -> bool:
        return all(self.one(None, -1 - i)[1] for i in range(WARMUP_ITERATIONS))

    def measure(self, seconds: float) -> dict:
        samples = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            samples.append(self.one(None, len(samples)))
        return self.summarise(samples)

    def summarise(self, samples) -> dict:
        good = [dt for dt, ok, _ in samples if ok]
        cpu = [c for _, ok, c in samples if ok]
        return {
            "attempted": len(samples),
            "failed": len(samples) - len(good),
            "wall_s": _median(good),
            "cpu_s": _median(cpu),
            "extra": {
                "iterations": (len(samples), "count", " ".join(f"{dt:.3f}" for dt, _, _ in samples)),
                "iteration_cpu": (len(cpu), "count", " ".join(f"{c:.2f}" for c in cpu)),
                "wall_min_s": (min(good) if good else float("nan"), "s", ""),
                "wall_max_s": (max(good) if good else float("nan"), "s", ""),
            },
        }


class Extract(Workload):
    """Pre-materialised corpus → extract_triples(cache=True) → count."""

    name = "extract"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.docs = SIZES["extract_small" if self.small else "extract"]["docs"]
        self.corpus = str(self.work / "corpus.parquet")

    def make_inputs(self) -> None:
        # a whole number of files per core, so no scan wave runs part-empty
        generate_corpus(
            self.spark, self.docs, self.seed, partitions=FILES_PER_CORE * self.nproc
        ).write.mode("overwrite").parquet(self.corpus)

    def prepare_check(self) -> None:
        rows, golden_docs = [], 0
        for i in range(self.docs):
            row, gold = make_doc(i, self.seed)
            rows.append(row)
            golden_docs += bool(gold)
        ref = set(run_reference_logic(rows)["merge"])
        self.expected = triple_hash(ref)
        zh = sum(r["lang"] == "zh" for r in rows)
        self.props = {
            "docs": self.docs,
            "zh_share": zh / self.docs,
            "relation_bearing_share": golden_docs / self.docs,
            "expected_triples": self.expected[0],
            "corpus_bytes": dir_bytes(self.corpus),
        }

    def iterate(self):
        docs = self.spark.read.parquet(self.corpus)
        return triples_digest(P.extract_triples(docs, cache=True))

    def summarise(self, samples) -> dict:
        res = super().summarise(samples)
        res["extra"]["docs_per_s"] = (self.docs / res["wall_s"], "docs/s", "docs / wall_s")
        return res

    def check(self, out) -> bool:
        return out == self.expected


class CheckpointResume(Extract):
    """run_pipeline on a fresh StageCatalog with metrics (the write path),
    then again with resume=True on the same catalog (the read path a
    crash-recovering user pays), through triples/nodes/edges collected."""

    name = "checkpoint_resume"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.docs = SIZES["checkpoint_resume"]["docs"]
        self.phase_s: dict[str, list] = {}

    def prepare_check(self) -> None:
        super().prepare_check()
        reference = self.expected
        self.expected = self.outputs(P.run_pipeline(self.spark, self.spark.read.parquet(self.corpus)))
        if self.expected[0] != reference:
            raise RuntimeError("catalog-free run_pipeline differs from the reference port")

    @staticmethod
    def outputs(result):
        nodes = {(r["person_id"], r["canonical_name"], tuple(r["aliases"]), r["n_docs"]) for r in result["nodes"].collect()}
        edges = {(r["subj_id"], r["obj_id"], r["rel"], r["n_docs"]) for r in result["edges"].collect()}
        return triples_digest(result["triples"]), nodes, edges

    def iterate(self):
        catalog = StageCatalog(self._fresh("catalog"))
        docs = self.spark.read.parquet(self.corpus)
        t = time.perf_counter()
        P.run_pipeline(self.spark, docs, catalog=catalog, with_metrics=True)
        t_build = time.perf_counter()
        out = self.outputs(P.run_pipeline(self.spark, docs, catalog=catalog, resume=True))
        self.phase_s.setdefault("build_s", []).append(t_build - t)
        self.phase_s.setdefault("resume_s", []).append(time.perf_counter() - t_build)
        return out

    def warmup(self) -> bool:
        ok = super().warmup()
        self.phase_s = {}
        return ok

    def summarise(self, samples) -> dict:
        res = super().summarise(samples)
        for name, values in self.phase_s.items():
            res["extra"][name] = (_median(values), "s", f"median of {len(values)}")
        return res


class LinkGraph(Workload):
    """Open-vocabulary mentions → fuzzy salted linking → nodes/edges."""

    name = "link_graph"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        size = SIZES["link_graph_small" if self.small else "link_graph"]
        self.docs, self.people, self.n_salt = size["docs"], size["people"], size["n_salt"]
        self.mentions_path = str(self.work / "mentions.parquet")
        self.triples_path = str(self.work / "triples.parquet")

    def make_inputs(self) -> None:
        """Both tables written straight from Python with pyarrow: no Spark
        job runs before the warm-up."""
        self.doc_rows, self.triple_rows = link_tables(self.seed, self.docs, self.people)
        write_parquet(self.mentions_path, ("url", "ckip_entity"), self.doc_rows, self.nproc)
        write_parquet(self.triples_path, TRIPLE_COLS, self.triple_rows, self.nproc)

    def prepare_check(self) -> None:
        self.expected = link_oracle(self.doc_rows, self.triple_rows)
        stats = block_stats(self.doc_rows)
        self.props = {
            "docs": self.docs,
            "people": self.people,
            "mention_occurrences": sum(len(ms) for _, ms in self.doc_rows),
            "triples": len(self.triple_rows),
            "n_salt": self.n_salt,
            **stats,
            "expected_nodes": len(self.expected[0]),
            "expected_edges": len(self.expected[1]),
        }

    def frames(self):
        return self.spark.read.parquet(self.mentions_path), self.spark.read.parquet(self.triples_path)

    def run_link(self, n_salt: int):
        mentions, triples = self.frames()
        linked = L.link_entities(mentions, fuzzy=True, use_context=True, n_salt=n_salt)
        nodes = G.build_nodes(linked)
        edges = G.build_edges(triples, linked, nodes)
        return nodes.collect(), edges.collect()

    def iterate(self):
        return self.run_link(self.n_salt)

    @staticmethod
    def as_sets(out):
        nodes, edges = out
        canon = {r["person_id"]: r["canonical_name"] for r in nodes}
        node_set = {(r["canonical_name"], tuple(r["aliases"]), r["n_docs"]) for r in nodes}
        edge_set = {
            (canon[r["subj_id"]], canon[r["obj_id"]], r["rel"], r["n_docs"], tuple(r["example_urls"]))
            for r in edges
        }
        return node_set, edge_set

    def check(self, out) -> bool:
        """Equal to the Python union-find. The traced run also checks that
        the unsalted (n_salt=1) run gives the same answer."""
        return self.as_sets(out) == self.expected


class Stream(Workload):
    """Open loop: fixed-size parquet shards appear in the input directory of
    stream_extract_triples on a fixed schedule; each shard is timed from
    its due time to the commit of the micro-batch that consumed it."""

    name = "stream"
    DRAIN_TIMEOUT_S = 60.0

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        size = SIZES["stream"]
        self.shard_docs, self.interval = size["shard_docs"], size["interval_s"]
        self.n_shards = max(4, int(self.seconds / self.interval) + 1)
        if self.small:
            self.n_shards = 4
        self.docs = self.n_shards * self.shard_docs
        self.staging = str(self.work / "shards")

    def make_inputs(self) -> None:
        generate_corpus(
            self.spark, self.docs, self.seed, partitions=self.n_shards
        ).write.mode("overwrite").parquet(self.staging)
        self.shards = sorted(
            p for p in os.listdir(self.staging) if p.startswith("part-") and p.endswith(".parquet")
        )
        if len(self.shards) != self.n_shards:
            raise RuntimeError(f"expected {self.n_shards} shard files, got {len(self.shards)}")

    def prepare_check(self) -> None:
        self.props = {
            "shard_docs": self.shard_docs,
            "interval_s": self.interval,
            "offered_docs_per_s": self.shard_docs / self.interval,
            "shards_generated": self.n_shards,
            "max_files_per_trigger": 4,
        }

    def _publish(self, name: str, in_dir: str) -> None:
        dst = os.path.join(in_dir, name)
        os.link(os.path.join(self.staging, name), dst)  # appears whole, atomically
        os.utime(dst)

    def warmup(self) -> bool:
        in_dir = self._fresh("warm_in")
        os.makedirs(in_dir)
        for name in self.shards[:4]:
            self._publish(name, in_dir)
        out_dir = self._fresh("warm_out")
        q = I.stream_extract_triples(
            self.spark, in_dir, out_dir, self._fresh("warm_ckpt"), available_now=True
        )
        q.stop()
        return self._outputs_match(in_dir, out_dir)

    def _outputs_match(self, in_dir: str, out_dir: str) -> bool:
        spark = self.spark
        streamed = spark.read.parquet(out_dir).select(*TRIPLE_COLS).distinct()
        batch = P.extract_triples(spark.read.parquet(in_dir), cache=False)
        return triples_digest(streamed) == triples_digest(batch)

    @staticmethod
    def _consumed(ckpt: str) -> dict[str, int]:
        """file name → id of the micro-batch that read it (file-source log)."""
        out: dict[str, int] = {}
        src = os.path.join(ckpt, "sources", "0")
        if not os.path.isdir(src):
            return out
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            try:
                with open(os.path.join(src, name), encoding="utf-8") as f:
                    lines = f.read().splitlines()[1:]
            except OSError:
                continue
            for line in lines:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
        return out

    @staticmethod
    def _commit_times(ckpt: str) -> dict[int, float]:
        d = os.path.join(ckpt, "commits")
        if not os.path.isdir(d):
            return {}
        return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}

    def measure(self, seconds: float) -> dict:
        in_dir, out_dir, ckpt = self._fresh("in"), self._fresh("out"), self._fresh("ckpt")
        os.makedirs(in_dir)
        query = I.stream_extract_triples(self.spark, in_dir, out_dir, ckpt, available_now=False)
        moved: list[tuple[str, float, float]] = []  # (shard, due, published)
        cpu = tree_cpu_s(os.getpid())
        try:
            t0 = time.time() + 0.2
            for i, name in enumerate(self.shards):
                due = t0 + i * self.interval
                if due - t0 >= seconds:
                    break
                time.sleep(max(0.0, due - time.time()))
                self._publish(name, in_dir)
                moved.append((name, due, time.time()))
            deadline = time.time() + self.DRAIN_TIMEOUT_S
            while time.time() < deadline:
                consumed, commits = self._consumed(ckpt), self._commit_times(ckpt)
                if all(consumed.get(n) in commits for n, _, _ in moved):
                    break
                time.sleep(0.05)
        finally:
            progress = [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]
            run_id = str(query.runId)
            query.stop()
        cpu = tree_cpu_s(os.getpid()) - cpu
        self.run_id = run_id
        self.progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        consumed, commits = self._consumed(ckpt), self._commit_times(ckpt)
        lat, lag = [], []
        for name, due, published in moved:
            lag.append(published - due)
            b = consumed.get(name)
            if b in commits:
                lat.append(commits[b] - due)
        self.generator_lag_s = max(lag)
        failed = len(moved) - len(lat)
        if not self._outputs_match(in_dir, out_dir):
            print("stream: union of batch outputs differs from extract_triples", file=sys.stderr)
            failed = len(moved)
        span = max(commits.values()) - moved[0][1] if commits else float("nan")
        tail_val, tail_note = tail(lat)
        p50 = _median(lat)
        return {
            "attempted": len(moved),
            "failed": failed,
            "wall_s": p50,
            # per committed shard: the window's CPU, drain included
            "cpu_s": cpu / len(lat) if lat else float("nan"),
            "extra": {
                "docs_per_s": (len(lat) * self.shard_docs / span, "docs/s", "committed"),
                "latency_p50_s": (p50, "s", f"n={len(lat)} shards"),
                "latency_tail_s": (tail_val, "s", tail_note),
                "batches": (len(self.progress), "count", ""),
                "generator_lag_s": (self.generator_lag_s, "s", "max over shards"),
            },
        }


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return (s[-1] if s else float("nan")), f"max, only n={n} samples"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f}, n={n}, 10 beyond"


def write_parquet(path: str, names, rows, n_files: int) -> None:
    """``rows`` split in order into ``n_files`` parquet files under ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * step : (i + 1) * step]
        arrays = [pa.array([r[j] for r in chunk]) for j in range(len(names))]
        table = pa.Table.from_arrays(arrays, names=list(names))
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


_CLASSES = {
    "extract": Extract,
    "link_graph": LinkGraph,
    "checkpoint_resume": CheckpointResume,
    "stream": Stream,
}


def make(name: str, spark, work: Path, seed: int, nproc: int, seconds: float, small: bool) -> Workload:
    return _CLASSES[name](spark, work, seed, nproc, seconds, small)

"""The traced run: spans around calls into each layer's public functions,
recorded from outside the program, plus the per-layer metrics.

A span records name, start, end, parent span, the iteration it belongs to,
and the Spark jobs, tasks and failed tasks run under it (one job group per
span, read back from ``sparkContext.statusTracker()``). Spans stay in memory
and are written to JSON at the end of the run.

Lazy DataFrame builders return before any work runs, so their spans hold
planning time only. The layer sweep therefore forces each stage separately
with a ``noop`` sink from a persisted input, which is where the per-layer
busy times come from.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from pathlib import Path

from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions import (
    chinese,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.analysis import (
    expansion_pairs,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
    HAS_RELATION,
    parse_triples,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    expansion as E,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    fused as FU,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
    taxonomy as TX,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import (
    get_scorer,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
    StageCatalog,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    make_doc,
)

import workloads as W
from workloads import G, I, L, P

#: Spark layers whose staged spans get ``<layer>.jobs/.tasks/.failed_tasks``
SPARK_LAYERS = ("fused", "taxonomy", "expansion", "pipeline", "catalog", "linking", "graph", "stream")

#: (object, attribute, span name): the layer entry points wrapped while the
#: traced loop runs. Callers inside the package bind some of these at import
#: time, so each is patched where it is looked up.
TRACE_POINTS = [
    (P, "extract_triples", "pipeline.extract_triples"),
    (P, "expanded_frame", "pipeline.expanded_frame"),
    (P, "triples_from_expanded", "pipeline.triples_from_expanded"),
    (P, "annotate_parse_stage", "fused.annotate_parse_stage"),
    (P, "fused_consensus_stage", "fused.fused_consensus_stage"),
    (P, "build_taxonomy", "taxonomy.build_taxonomy"),
    (P, "remap_relations", "taxonomy.remap_relations"),
    (P, "expansion_stage", "expansion.expansion_stage"),
    (P, "link_entities", "linking.link_entities"),
    (P, "build_nodes", "graph.build_nodes"),
    (P, "build_edges", "graph.build_edges"),
    (L, "link_entities", "linking.link_entities"),
    (L, "mention_table", "linking.mention_table"),
    (L, "mention_edges", "linking.mention_edges"),
    (L, "fuzzy_mention_edges", "linking.fuzzy_mention_edges"),
    (L, "connected_components", "linking.connected_components"),
    (G, "build_nodes", "graph.build_nodes"),
    (G, "build_edges", "graph.build_edges"),
    (I, "extract_triples", "stream.extract_triples"),
    (StageCatalog, "write_stage", "catalog.write_stage"),
    (StageCatalog, "read_stage", "catalog.read_stage"),
]


def unit_of(metric: str) -> str:
    if metric.endswith("_us_per_doc") or metric.endswith("_us_per_call"):
        return "us"
    if metric.endswith(("_s", ".s", "_s_p50")):
        return "s"
    if metric.endswith(("_share", "_yield", "bytes_per_input_byte")):
        return "ratio"
    if metric.endswith("bytes_written"):
        return "bytes"
    if metric.endswith("docs_per_batch"):
        return "docs"
    return "count"


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks completed, tasks failed) run under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
    return len(jobs), tasks, failed


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, iteration=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        if iteration is None and parent is not None:
            iteration = parent["iteration"]
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "iteration": iteration,
        }
        group = f"perfbench-span-{sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if prev is not None:
                self.sc.setJobGroup(prev, parent["name"] if parent else "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, tasks, failed = job_counts(self.sc, group)
            rec["counts"] = {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}
            with self._lock:
                self.spans.append(rec)

    def layer_totals(self, layer: str, ids: set[int]) -> tuple[int, int, int]:
        """Summed counts of the spans in ``ids`` that belong to ``layer``."""
        jobs = tasks = failed = 0
        for s in self.spans:
            if s["id"] in ids and s["name"].split(".")[0] == layer:
                jobs += s["counts"]["jobs"]
                tasks += s["counts"]["tasks"]
                failed += s["counts"]["failed_tasks"]
        return jobs, tasks, failed

    def dump(self, path: Path, info: dict, metrics: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = sorted(self.spans, key=lambda s: s["start"])
        for s in spans:
            s["start_s"] = s.pop("start") - t0
            s["end_s"] = s.pop("end") - t0
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"info": info, "metrics": metrics, "spans": spans}, f, ensure_ascii=False, indent=1)


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap every TRACE_POINTS entry in a span for the duration."""
    saved = []
    for obj, attr, name in TRACE_POINTS:
        orig = obj.__dict__[attr]

        def wrapper(*a, __orig=orig, __name=name, **k):
            with tracer.span(__name):
                return __orig(*a, **k)

        functools.update_wrapper(wrapper, orig)
        saved.append((obj, attr, orig))
        setattr(obj, attr, wrapper)
    try:
        yield
    finally:
        for obj, attr, orig in reversed(saved):
            setattr(obj, attr, orig)


def traced_measure(wl, tracer: Tracer, seconds: float) -> dict:
    """The measured window with every layer call traced in alternate
    iterations, so traced and untraced iterations share the same warm-up
    state; ``trace_wall_s`` is the traced iterations' median. The stream
    workload runs an untraced window, then a traced one."""
    if isinstance(wl, W.Stream):
        res = wl.measure(seconds)
        with installed(tracer):
            res["trace_wall_s"] = wl.measure(seconds)["wall_s"]
        return res
    plain, traced = [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not traced:
        if len(plain) > len(traced):
            with installed(tracer):
                traced.append(wl.one(tracer, len(plain) + len(traced)))
        else:
            plain.append(wl.one(None, len(plain) + len(traced)))
    res = wl.summarise(plain)
    res["trace_wall_s"] = wl.summarise(traced)["wall_s"]
    res["attempted"] += len(traced)
    res["failed"] += sum(1 for _, ok, _ in traced if not ok)
    return res


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def kernel_metrics(seed: int, n_docs: int = 300, reps: int = 3) -> dict:
    """Single-threaded driver-side timings of the scorer and function
    kernels over a fixed seeded sample of zh docs (median of ``reps``
    passes, the s2t cache cleared before each)."""
    mod = get_scorer("deterministic")
    texts, i = [], 0
    while len(texts) < n_docs:
        row, _gold = make_doc(i, seed)
        if row["lang"] == "zh":
            texts.append(row["text"])
        i += 1
    outputs = [mod.score_detect(t, ann)[1] for t in texts for ann in ("gemini", "gpt")]
    trads = [chinese.s2t(t) for t in texts]
    verify_calls, expand_calls = [], []
    for t, trad in zip(texts, trads):
        status, out = mod.score_detect(t, "gemini")
        if status == HAS_RELATION:
            triples, _r, _e, err = parse_triples(out, tolerant=True)
            if triples and not err:
                verify_calls.append((t, [tuple(chinese.s2t(x) for x in tr) for tr in triples]))
        density, extra = expansion_pairs(mod.score_ner(trad), set(), trad)
        if density == "middle" and extra:
            expand_calls.append((trad, extra))

    def per_item(fn, items) -> float:
        times = []
        for _ in range(reps):
            chinese.s2t.cache_clear()
            t = time.perf_counter()
            for it in items:
                fn(it)
            times.append((time.perf_counter() - t) / max(1, len(items)) * 1e6)
        return statistics.median(times)

    return {
        "scorers.detect_us_per_doc": per_item(
            lambda t: (mod.score_detect(t, "gemini"), mod.score_detect(t, "gpt")), texts
        ),
        "scorers.verify_us_per_call": per_item(lambda c: mod.score_verify(*c), verify_calls),
        "scorers.ner_us_per_doc": per_item(mod.score_ner, trads),
        "scorers.expand_us_per_doc": per_item(lambda c: mod.score_expansion_pairs(*c), expand_calls),
        "functions.s2t_us_per_doc": per_item(chinese.s2t, texts),
        "functions.parse_us_per_doc": per_item(
            lambda pair: [parse_triples(o, tolerant=True) for o in pair],
            list(zip(outputs[0::2], outputs[1::2])),
        ),
    }


def pipeline_layers(spark, corpus: str, corpus_bytes: int, work: Path, tracer: Tracer, ids: set) -> dict:
    """extract_triples' stages forced one at a time, then the same stage
    tables written to and read back from a StageCatalog."""
    m: dict = {}
    persisted = []

    def keep(df):
        persisted.append(df.persist())
        return persisted[-1]

    def staged(name, df):
        with tracer.span(name) as rec:
            _force(df)
        ids.add(rec["id"])
        return _dur(rec)

    anns = ("gemini", "gpt")
    zh = spark.read.parquet(corpus).filter(F.col("lang") == "zh").select("url", "text")
    parsed = keep(FU.annotate_parse_stage(zh))
    m["fused.annotate_s"] = staged("fused.annotate", parsed)
    m["fused.annotate_rows"] = parsed.count()
    with tracer.span("taxonomy.barrier") as rec:
        taxonomy = TX.build_taxonomy(parsed, annotators=anns)
    ids.add(rec["id"])
    m["taxonomy.barrier_s"] = _dur(rec)
    remapped = TX.remap_relations(parsed, taxonomy)
    any_nonempty = (F.size("gemini_ternary") > 0) | (F.size("gpt_ternary") > 0)
    cons_in = remapped.where(any_nonempty)
    cons = keep(FU.fused_consensus_stage(cons_in))
    m["fused.consensus_s"] = staged("fused.consensus", cons)
    m["fused.consensus_rows_in"] = rows_in = cons.count()
    cons_docs = cons.filter(F.size("consensus_label") > 0)
    m["fused.consensus_yield"] = cons_docs.count() / max(1, rows_in)
    expanded = keep(E.expansion_stage(cons_docs))
    m["expansion.s"] = staged("expansion.stage", expanded)
    row = expanded.agg(
        F.sum(F.when(F.col("density") == "middle", F.size("extra_pairs")).otherwise(0)).alias("pairs"),
        F.sum(F.size("expansion_ternary")).alias("triples"),
    ).collect()[0]
    m["expansion.pairs_scored"] = pairs = int(row["pairs"] or 0)
    m["expansion.triple_yield"] = int(row["triples"] or 0) / max(1, pairs)
    triples = keep(P.triples_from_expanded(expanded))
    m["pipeline.distinct_s"] = staged("pipeline.distinct", triples)
    m["pipeline.triples_out"] = triples.count()

    root = work / "sweep_catalog"
    catalog = StageCatalog(str(root))
    stages = [("annotated", parsed), ("consensus", cons), ("expanded", expanded), ("triples", triples)]
    with tracer.span("catalog.write") as rec:
        for name, df in stages:
            catalog.write_stage(df, name, inputs=[])
    ids.add(rec["id"])
    m["catalog.write_s"] = _dur(rec)
    with tracer.span("catalog.read") as rec:
        for name, _df in stages:
            _force(catalog.read_stage(spark, name))
    ids.add(rec["id"])
    m["catalog.read_s"] = _dur(rec)
    data = [p for p in root.rglob("*.parquet") if p.is_file()]
    m["catalog.files_written"] = len(data)
    m["catalog.bytes_written"] = written = sum(p.stat().st_size for p in data)
    m["catalog.bytes_per_input_byte"] = written / corpus_bytes
    for df in persisted:
        df.unpersist()
    return m


def link_layers(spark, lg, tracer: Tracer, ids: set) -> dict:
    """link_entities(fuzzy, use_context, n_salt) composed from its public
    parts (operators/linking.py ``link_entities``), each forced in turn,
    then build_nodes / build_edges."""
    m: dict = {}
    persisted = []

    def keep(df):
        persisted.append(df.persist())
        return persisted[-1]

    def staged(name, df):
        with tracer.span(name) as rec:
            _force(df)
        ids.add(rec["id"])
        return _dur(rec)

    docs, triples = lg.frames()
    mentions = keep(L.mention_table(docs))
    m["linking.mention_table_s"] = staged("linking.mention_table", mentions)
    m["linking.mentions"] = mentions.count()
    context = docs.select("url", F.explode("ckip_entity").alias("mention")).distinct()
    edges = keep(
        L.mention_edges(mentions)
        .union(L.fuzzy_mention_edges(mentions, n_salt=lg.n_salt, context=context))
        .distinct()
    )
    m["linking.edges_s"] = staged("linking.edges", edges)
    m["linking.edges_out"] = n_edges = edges.count()
    m["linking.block_pairs"] = lg.props["block_pairs"]
    m["linking.edge_yield"] = n_edges / max(1, lg.props["block_pairs"])
    m["linking.hot_block_share"] = lg.props["hot_block_share"]
    with tracer.span("linking.cc") as rec:
        comps = keep(L.connected_components(mentions.select(F.col("mention").alias("id")), edges))
        _force(comps)
    ids.add(rec["id"])
    m["linking.cc_s"] = _dur(rec)
    linked = keep(
        mentions.join(comps.withColumnRenamed("id", "mention"), on="mention", how="left").withColumn(
            "component", F.coalesce("component", "mention")
        )
    )
    nodes = keep(G.build_nodes(linked))
    m["graph.nodes_s"] = staged("graph.nodes", nodes)
    m["graph.nodes_out"] = nodes.count()
    gedges = keep(G.build_edges(triples, linked, nodes))
    m["graph.edges_s"] = staged("graph.edges", gedges)
    m["graph.edges_out"] = gedges.count()
    if (m["graph.nodes_out"], m["graph.edges_out"]) != (len(lg.expected[0]), len(lg.expected[1])):
        raise RuntimeError("staged linking does not reproduce the link_graph answer")
    for df in persisted:
        df.unpersist()
    return m


def stream_layers(sc, st) -> dict:
    """Per-batch figures from the public StreamingQuery.recentProgress of
    the stream window just measured."""
    prog = st.progress

    def p50(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in prog) / 1000

    jobs, tasks, failed = job_counts(sc, st.run_id)
    return {
        "stream.batches": len(prog),
        "stream.docs_per_batch": statistics.median(p["numInputRows"] for p in prog),
        "stream.batch_s_p50": p50("triggerExecution"),
        "stream.add_batch_s_p50": p50("addBatch"),
        "stream.planning_s_p50": p50("queryPlanning"),
        "stream.generator_lag_s": st.generator_lag_s,
        "stream.jobs": jobs,
        "stream.tasks": tasks,
        "stream.failed_tasks": failed,
    }


def layer_sweep(spark, work: Path, seed: int, nproc: int, wl, tracer: Tracer) -> dict:
    """Every per-layer metric. A layer the measured workload exercises is
    measured on that workload's inputs; any other layer on the small
    seeded inputs of the workload that does exercise it."""

    def other(name):
        x = W.make(name, spark, work, seed, nproc, 4.0, small=True)
        x.make_inputs()
        x.prepare_check()
        return x

    m = kernel_metrics(seed)
    ids: set = set()
    ex = wl if isinstance(wl, W.Extract) else other("extract")
    m.update(pipeline_layers(spark, ex.corpus, ex.props["corpus_bytes"], work, tracer, ids))
    if isinstance(wl, W.LinkGraph):
        lg = wl
        # the untraced runs check every iteration against the Python
        # union-find only; the unsalted run must give the same answer
        if lg.as_sets(lg.run_link(1)) != lg.expected:
            raise RuntimeError("unsalted (n_salt=1) linking differs from the Python union-find")
    else:
        lg = other("link_graph")
    m.update(link_layers(spark, lg, tracer, ids))
    if isinstance(wl, W.Stream):
        st = wl
    else:
        # no warm-up here: its first micro-batch runs cold
        st = other("stream")
        if st.measure(st.seconds)["failed"]:
            raise RuntimeError("stream outputs differ from extract_triples")
    for layer in SPARK_LAYERS:
        if layer == "stream":
            continue
        m[f"{layer}.jobs"], m[f"{layer}.tasks"], m[f"{layer}.failed_tasks"] = tracer.layer_totals(layer, ids)
    m.update(stream_layers(spark.sparkContext, st))
    return m

"""End-to-end KG-construction pipeline (SURVEY §3 entry-point B shape).

docs(url, warc_ts, html, text, lang)
  → zh filter → annotate (2 scorers, one pass) → parse → taxonomy remap →
    consensus (+verify) → expansion (NER + pair classify) → merge →
    triples → entity linking → graph nodes/edges.

Everything up to entity linking is narrow (zero shuffles — one scan and ONE
``mapInArrow`` crossing per zh document that runs the whole per-document
step chain, ``operators/steps.py``); the only wide operations in the whole
plan are the triples distinct, the mention-table groupBy, and the graph
groupBys and mention-resolution joins. Fuzzy linking adds its edge dedup,
the connected-components rounds and the mention→root join; its candidate
pairs are built map-side within each document. That is what makes the
plan scale linearly with corpus size.

With a ``StageCatalog`` the annotated/consensus/expanded/triples/nodes/edges
stage tables are checkpointed with lineage manifests + counters, and a
re-run reuses every stage whose recorded input snapshots are still current
(the reference's per-stage CSV rewrite, done right). Each extraction stage
is then one job with one crossing over the previous stage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.expansion import expand_step, expansion_stage
from ..operators.fused import annotate_parse_stage, annotate_step, consensus_step
from ..operators.graph import build_edges, build_nodes
from ..operators.linking import link_entities
from ..operators.steps import run_steps
from ..operators.taxonomy import remap_step
from ..sources.catalog import StageCatalog

# unused here: perfbench/tracing.py patches these as attributes of this module
from ..operators.fused import fused_consensus_stage  # noqa: F401
from ..operators.taxonomy import build_taxonomy, remap_relations  # noqa: F401


def expanded_frame(
    docs: DataFrame,
    ner_sources: tuple[str, ...] = ("ckip",),
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """zh docs → fully expanded document frame (annotate → parse → taxonomy →
    consensus → expansion → merge labels), uncheckpointed, in one Python
    crossing per doc. ``ner_sources`` selects the expansion NER variants
    (ckip / gemini / union golden column families — reference README.md
    cols 20–31). ``annotators`` selects the detection models (k-annotator
    consensus; must include gemini + gpt — the expansion step's
    already-labeled anti-join reads their trad columns, reference
    ``ckip_expansion.py:71-76``). ``strict_verify_failure`` switches
    consensus to the test-corpus whole-doc-zeroing semantics."""
    if not {"gemini", "gpt"} <= set(annotators):
        raise ValueError("annotators must include 'gemini' and 'gpt'")
    zh = docs.filter(F.col("lang") == "zh").select("url", "text")
    return run_steps(
        zh,
        [
            annotate_step(annotators=annotators),
            remap_step(cols=tuple(f"{ann}_ternary" for ann in annotators)),
            consensus_step(annotators, strict_verify_failure),
            expand_step(tuple(ner_sources)),
        ],
    )


def triples_from_expanded(expanded: DataFrame) -> DataFrame:
    """merge_label arrays → exploded (url, subj, obj, rel) triple table."""
    return (
        expanded.select("url", F.explode("merge_label").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
        .distinct()
    )


def extract_triples(
    docs: DataFrame,
    cache: bool = True,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """Flagship query: all person-relation triples in the corpus.
    ``cache`` has no effect (nothing is persisted); it stays accepted for
    callers that still pass it."""
    return triples_from_expanded(
        expanded_frame(
            docs,
            annotators=annotators,
            strict_verify_failure=strict_verify_failure,
        )
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    catalog: StageCatalog | None = None,
    resume: bool = True,
    with_metrics: bool = True,
    with_replay: bool = False,
) -> dict:
    """Full run incl. linking + graph; returns stage DataFrames + metrics.

    With ``catalog``: each stage, through ``triples``/``nodes``/``edges``, is
    materialized once (plain parquet + manifest with lineage/counters); a
    re-run with ``resume=True`` reads a completed stage instead of
    recomputing it when every input snapshot its manifest records is still
    that input's current one, so a recomputed stage forces new snapshots of
    every stage downstream of it.
    ``with_replay`` adds entry point C (per-pair RE replay) as a further
    checkpointable stage over the expanded frame.
    """
    metrics: dict = {}

    def checkpoint(name: str, df_fn, inputs: list[str], metric_fn=None) -> DataFrame:
        if catalog is None:
            return df_fn()
        if resume and catalog.is_current(name, inputs):
            return catalog.read_stage(spark, name)
        df = df_fn()
        if with_metrics and metric_fn:
            # persist across metrics + write so the stage (incl. its scorer
            # scan) computes ONCE, not once per action
            df = df.persist()
            try:
                stage_metrics = metric_fn(df)
                metrics[name] = stage_metrics
                catalog.write_stage(df, name, inputs=inputs, metrics=stage_metrics)
            finally:
                df.unpersist()
        else:
            catalog.write_stage(df, name, inputs=inputs, metrics={})
        return catalog.read_stage(spark, name)

    zh = docs.filter(F.col("lang") == "zh").select("url", "text")

    def detect_metrics(df: DataFrame) -> dict:
        rows = (
            df.groupBy("gemini_has_relation", "gpt_has_relation").count().collect()
        )
        out: dict = {"n_docs": 0}
        for r in rows:
            out["n_docs"] += r["count"]
            out[f"gemini={r['gemini_has_relation']},gpt={r['gpt_has_relation']}"] = r["count"]
        # M1 retry loop: docs whose answer needed re-instruction retries;
        # the taxonomy's vocabulary (distinct raw relation words) rides along
        relations = F.array_distinct(F.concat("gemini_relations", "gpt_relations"))
        agg = df.agg(
            *[
                F.sum((F.col(f"{ann}_attempts") > 1).cast("int")).alias(ann)
                for ann in ("gemini", "gpt")
            ],
            F.size(F.array_distinct(F.flatten(F.collect_set(relations)))).alias("n_rel"),
        ).collect()[0]
        for ann in ("gemini", "gpt"):
            out[f"{ann}_retried_docs"] = int(agg[ann] or 0)
        metrics["taxonomy"] = {"n_distinct_relations": int(agg["n_rel"])}
        return out

    parsed = checkpoint(
        "annotated",
        lambda: annotate_parse_stage(zh),
        ["web_pages"],
        detect_metrics,
    )

    def consensus_metrics(df: DataFrame) -> dict:
        row = df.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("consensus_label")).alias("n_consensus_triples"),
            F.sum(F.col("gemini_verify_error").cast("int")).alias("gemini_verify_errors"),
            F.sum(F.col("gpt_verify_error").cast("int")).alias("gpt_verify_errors"),
            F.sum(F.col("gemini_parse_error").cast("int")).alias("gemini_parse_errors"),
            F.sum(F.col("gpt_parse_error").cast("int")).alias("gpt_parse_errors"),
        ).collect()[0]
        return {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}

    cons = checkpoint(
        "consensus",
        lambda: run_steps(parsed, [remap_step(), consensus_step()]),
        ["annotated"],
        consensus_metrics,
    )

    def expansion_metrics(df: DataFrame) -> dict:
        rows = df.groupBy("density").count().collect()
        out = {f"density_{r['density']}": r["count"] for r in rows}
        agg = df.agg(
            F.sum(F.size("expansion_ternary")).alias("n_expansion_triples"),
            F.sum(F.col("expansion_failed").cast("int")).alias("expansion_failures"),
            F.sum(F.size("merge_label")).alias("n_merged_triples"),
        ).collect()[0]
        out.update({k: int(v or 0) for k, v in agg.asDict().items()})
        return out

    # without a catalog the stage frames above stay unexecuted views and
    # the expanded frame is the fused chain: one crossing per doc
    expanded = (
        expanded_frame(docs)
        if catalog is None
        else checkpoint(
            "expanded",
            lambda: expansion_stage(cons),
            ["consensus"],
            expansion_metrics,
        )
    )

    triples = checkpoint("triples", lambda: triples_from_expanded(expanded), ["expanded"])
    linked = link_entities(expanded)
    nodes = checkpoint("nodes", lambda: build_nodes(linked), ["expanded"])
    edges = checkpoint("edges", lambda: build_edges(triples, linked, nodes), ["expanded"])

    result = {
        "annotated": parsed,
        "consensus": cons,
        "expanded": expanded,
        "triples": triples,
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "metrics": metrics,
    }

    if with_replay:
        from ..operators.re_replay import re_replay_stage, replay_triples

        def replay_metrics(df: DataFrame) -> dict:
            row = df.agg(
                F.count("*").alias("n_docs"),
                F.sum("mt5_pairs_scored").alias("n_pairs_scored"),
                F.sum("mt5_pairs_skipped").alias("n_pairs_skipped"),
                F.sum((F.col("mt5_has_relation") == "有").cast("int")).alias("n_positive_docs"),
            ).collect()[0]
            return {k: int(v or 0) for k, v in row.asDict().items()}

        replayed = checkpoint(
            "re_replay",
            lambda: re_replay_stage(expanded),
            ["expanded"],
            replay_metrics,
        )
        result["re_replay"] = replayed
        result["replay_triples"] = replay_triples(replayed, "mt5")

    return result

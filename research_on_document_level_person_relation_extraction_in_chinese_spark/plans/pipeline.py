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

With a ``StageCatalog`` the step chain is checkpointed once, as the
``documents`` stage: every zh document with every column the chain adds
(the reference's one accreting document table, written once instead of as
a CSV rewrite per stage). ``expanded`` is that stage filtered on a
non-empty consensus; ``triples``/``nodes``/``edges`` (and ``re_replay``)
are checkpointed over it. Each stage's manifest records its lineage and
counters, and a re-run reuses every stage whose recorded input snapshots
are still current.
"""

from __future__ import annotations

from itertools import product

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import HAS_RELATION, NO_RELATION, STATUS_RETRY, STATUS_UNRECOGNIZED
from ..operators.expansion import expand_step
from ..operators.fused import annotate_step, consensus_step
from ..operators.graph import build_edges, build_nodes
from ..operators.linking import link_entities
from ..operators.steps import run_steps
from ..operators.taxonomy import remap_step
from ..sources.catalog import StageCatalog

# unused here: perfbench/tracing.py patches these as attributes of this module
from ..operators.expansion import expansion_stage  # noqa: F401
from ..operators.fused import annotate_parse_stage, fused_consensus_stage  # noqa: F401
from ..operators.taxonomy import build_taxonomy, remap_relations  # noqa: F401

#: terminal detection statuses (``score_detect_with_attempts``) and
#: expansion densities (``expansion_pairs``): the groups the counters count
_STATUSES = (HAS_RELATION, NO_RELATION, STATUS_RETRY, STATUS_UNRECOGNIZED)
_DENSITIES = ("low", "middle", "high")


def document_frame(
    docs: DataFrame,
    ner_sources: tuple[str, ...] = ("ckip",),
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """zh docs → the wide per-document table, uncheckpointed: annotate →
    parse → taxonomy → consensus → expansion → merge labels, in one Python
    crossing per doc. Every zh doc stays; its expansion columns are null
    when its consensus is empty.

    ``ner_sources`` selects the expansion NER variants (ckip / gemini /
    union golden column families — reference README.md cols 20–31).
    ``annotators`` selects the detection models (k-annotator consensus;
    must include gemini + gpt — the expansion step's already-labeled
    anti-join reads their trad columns, reference ``ckip_expansion.py:71-76``).
    ``strict_verify_failure`` switches consensus to the test-corpus
    whole-doc-zeroing semantics."""
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


def expanded_frame(
    docs: DataFrame,
    ner_sources: tuple[str, ...] = ("ckip",),
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """``document_frame`` through the reference's expansion gate
    (``ckip_expansion.py:238-239``): the zh docs with a non-empty consensus.
    Over the chain's ``mapInArrow`` the filter stays above the crossing."""
    documents = document_frame(docs, ner_sources, annotators, strict_verify_failure)
    return documents.filter(F.size("consensus_label") > 0)


def document_counters() -> dict[str, Column]:
    """The ``documents`` stage's counters, for ``StageCatalog.write_stage``
    to observe on the stage write: detection (docs per annotator status
    pair, re-instruction retries), taxonomy (distinct raw relation words),
    consensus, and, over the docs with a consensus, expansion. A group count
    is null when the group is empty, so the manifest leaves it out, as a
    ``groupBy`` would."""
    expanded = F.size("consensus_label") > 0

    def group(cond: Column) -> Column:
        return F.nullif(F.count_if(cond), F.lit(0))

    def total(col: Column) -> Column:
        return F.coalesce(F.sum(col), F.lit(0))

    relations = F.array_distinct(F.concat("gemini_relations", "gpt_relations"))
    counters = {"n_docs": F.count("*")}
    for g, p in product(_STATUSES, repeat=2):
        counters[f"gemini={g},gpt={p}"] = group(
            (F.col("gemini_has_relation") == g) & (F.col("gpt_has_relation") == p)
        )
    for ann in ("gemini", "gpt"):
        counters[f"{ann}_retried_docs"] = F.count_if(F.col(f"{ann}_attempts") > 1)
        counters[f"{ann}_verify_errors"] = F.count_if(f"{ann}_verify_error")
        counters[f"{ann}_parse_errors"] = F.count_if(f"{ann}_parse_error")
    counters["n_distinct_relations"] = F.size(F.array_distinct(F.flatten(F.collect_set(relations))))
    counters["n_consensus_triples"] = total(F.size("consensus_label"))
    for d in _DENSITIES:
        counters[f"density_{d}"] = group(expanded & (F.col("density") == d))
    counters["n_expansion_triples"] = total(F.when(expanded, F.size("expansion_ternary")))
    counters["expansion_failures"] = F.count_if(expanded & F.col("expansion_failed"))
    counters["n_merged_triples"] = total(F.when(expanded, F.size("merge_label")))
    return counters


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

    With ``catalog``: ``documents`` and then ``triples``/``nodes``/``edges``
    are each materialized once (plain parquet + manifest with lineage and
    counters); a re-run with ``resume=True`` reads a completed stage instead
    of recomputing it when every input snapshot its manifest records is
    still that input's current one, so a recomputed stage forces new
    snapshots of every stage downstream of it. ``metrics`` holds the
    counters of each stage this run wrote, observed on the write.
    ``with_metrics`` has no effect (the counters cost no Spark job); it
    stays accepted for callers that still pass it.
    ``with_replay`` adds entry point C (per-pair RE replay) as a further
    checkpointable stage over the expanded frame.
    """
    metrics: dict = {}

    def checkpoint(name: str, df_fn, inputs: list[str], counters=None) -> DataFrame:
        if catalog is None:
            return df_fn()
        if not (resume and catalog.is_current(name, inputs)):
            catalog.write_stage(df_fn(), name, inputs=inputs, counters=counters)
            if counters:
                metrics[name] = catalog.manifest(name)["metrics"]
        return catalog.read_stage(spark, name)

    documents = checkpoint(
        "documents",
        lambda: document_frame(docs),
        ["web_pages"],
        document_counters(),
    )
    expanded = documents.filter(F.size("consensus_label") > 0)
    triples = checkpoint("triples", lambda: triples_from_expanded(expanded), ["documents"])
    linked = link_entities(expanded)
    nodes = checkpoint("nodes", lambda: build_nodes(linked), ["documents"])
    edges = checkpoint("edges", lambda: build_edges(triples, linked, nodes), ["documents"])

    result = {
        "documents": documents,
        "expanded": expanded,
        "triples": triples,
        "linked": linked,
        "nodes": nodes,
        "edges": edges,
        "metrics": metrics,
    }

    if with_replay:
        from ..operators.re_replay import re_replay_stage, replay_triples

        replayed = checkpoint(
            "re_replay",
            lambda: re_replay_stage(expanded),
            ["documents"],
            {
                "n_docs": F.count("*"),
                "n_pairs_scored": F.coalesce(F.sum("mt5_pairs_scored"), F.lit(0)),
                "n_pairs_skipped": F.coalesce(F.sum("mt5_pairs_skipped"), F.lit(0)),
                "n_positive_docs": F.count_if(F.col("mt5_has_relation") == HAS_RELATION),
            },
        )
        result["re_replay"] = replayed
        result["replay_triples"] = replay_triples(replayed, "mt5")

    return result

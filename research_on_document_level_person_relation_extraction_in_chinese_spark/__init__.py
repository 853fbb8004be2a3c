"""PySpark-native knowledge-graph-construction engine.

A from-scratch rebuild (NOT a port) of the semantics of
``stmilton/Research-on-Document-Level-Person-Relation-Extraction-in-Chinese``:
document-level Chinese person-relation extraction over Common-Crawl-style web
pages, expressed as declarative DataFrame plans + vectorized pandas/Arrow UDFs.

Layout
------
- ``functions/``  pure-function kernel (triple parse, Chinese conversion,
  canonicalization, pair analysis) — shared by the Spark pipeline and by the
  plain-Python parity oracle.
- ``scorers/``    deterministic rule-backed scorers replacing the reference's
  per-document LLM API calls (same answer schema).
- ``sources/``    synthetic corpus generator and the stage catalog
  (checkpointed stage tables with lineage + metrics).
- ``operators/``  pipeline stages (fused annotate/parse and consensus,
  taxonomy, expansion, replay, linking, graph, evaluate) + training-data
  ops (dedup, similarity, text analysis) that only the query registry
  reaches.
- ``plans/``      end-to-end pipeline runner with per-stage checkpoint/resume.
- ``streaming/``  Structured-Streaming ingest variant.
"""

from __future__ import annotations

from .session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"

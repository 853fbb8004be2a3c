#!/usr/bin/env python
"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Packages the engine for cluster submission and runs the full KG pipeline
with stage checkpoints + lineage under ``--out``:

    zip -r /tmp/engine.zip research_on_document_level_person_relation_extraction_in_chinese_spark
    spark-submit --py-files /tmp/engine.zip \
        --driver-java-options "-XX:ReservedCodeCacheSize=1g -Xmn256m" \
        scripts/run_pipeline.py --docs 4000 --out /tmp/kg_run --seed 42

The session here is built by spark-submit, not by ``get_spark``, so the
driver JVM flags of ``session.py`` (the code cache and the young-generation
bound) apply only when passed as ``--driver-java-options``; executors keep
the cluster's defaults.

On a real cluster, point ``--input`` at the web_pages Iceberg/parquet table
instead of generating a synthetic corpus.
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="existing web_pages parquet/Iceberg path")
    ap.add_argument("--docs", type=int, default=2000, help="synthesize N docs if no --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--out", "--catalog", dest="out", required=True,
        help="stage-catalog root directory (alias: --catalog)",
    )
    ap.add_argument(
        "--resume", action=argparse.BooleanOptionalAction, default=True,
        help="reuse completed stage tables under the catalog (--no-resume recomputes)",
    )
    ap.add_argument(
        "--annotate-chunks", type=int, default=0, metavar="K",
        help="document-level incremental extraction: process the corpus in K "
        "url-hash chunks, each flushed kill-safely (append job commit); a "
        "rerun anti-joins the committed chunks (resume_filter) and only "
        "extracts what is missing",
    )
    args = ap.parse_args()

    # spark-submit supplies master/conf; fall back to local for direct runs
    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from pyspark.sql import functions as F

    from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
        document_frame,
        run_pipeline,
    )
    from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.catalog import (
        StageCatalog,
        resume_filter,
    )
    from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
        generate_corpus,
    )

    docs = (
        spark.read.parquet(args.input)
        if args.input
        else generate_corpus(spark, args.docs, seed=args.seed)
    )
    catalog = StageCatalog(args.out)

    # (chunking is only meaningful with resume: --no-resume recomputes the
    # stage wholesale inside run_pipeline)
    if args.annotate_chunks > 0 and args.resume and not catalog.has_stage("documents"):
        # Kill-and-rerun story, end to end from the packaged artifact: the
        # extraction chain writes the documents stage in K committed chunks;
        # an interrupted run reruns with the SAME command and recomputes
        # only the chunks that never committed.
        zh = docs.filter(F.col("lang") == "zh")
        n_total = zh.count()
        remaining = resume_filter(zh, catalog, "documents")
        n_remaining = remaining.count()
        print(
            json.dumps(
                {"resume_docs_total": n_total,
                 "docs_already_annotated": n_total - n_remaining}
            ),
            flush=True,
        )
        k = args.annotate_chunks
        for i in range(k):
            chunk = remaining.where(F.pmod(F.hash("url"), F.lit(k)) == i)
            catalog.append_partial(document_frame(chunk), "documents")
            print(f"extraction chunk {i + 1}/{k} committed", flush=True)
        catalog.finalize_stage(
            "documents",
            inputs=["web_pages"],
            metrics={"n_docs": n_total, "resumed_docs": n_total - n_remaining},
        )

    result = run_pipeline(spark, docs, catalog=catalog, resume=args.resume)
    summary = {
        "n_triples": result["triples"].count(),
        "n_nodes": result["nodes"].count(),
        "n_edges": result["edges"].count(),
        "metrics": result["metrics"],
        "lineage": catalog.lineage("triples"),
    }
    print(json.dumps(summary, ensure_ascii=False, indent=1))


if __name__ == "__main__":
    main()

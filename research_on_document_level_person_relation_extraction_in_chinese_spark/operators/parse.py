"""Triple-parse types (SURVEY §2.6 F1/F2) and the per-cell parse the fused
annotate node and the replay stages run inside their pandas UDFs.

The reference mutates JSON-string columns per row (``postprecess.py:208-267``);
here the parse kernel emits real nested types:
``ternary array<struct<subj,obj,rel>>``, ``relations array<string>``,
``entities array<string>``, ``parse_error boolean`` — no JSON-in-string.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..functions.parse import HAS_RELATION, parse_triples

TERNARY_DT = ArrayType(
    StructType(
        [
            StructField("subj", StringType()),
            StructField("obj", StringType()),
            StructField("rel", StringType()),
        ]
    )
)
PARSED_DT = StructType(
    [
        StructField("ternary", TERNARY_DT),
        StructField("relations", ArrayType(StringType())),
        StructField("entities", ArrayType(StringType())),
        StructField("parse_error", BooleanType()),
    ]
)


def _parse_cell(output, has_relation, tolerant: bool):
    if has_relation != HAS_RELATION or output is None:
        return {"ternary": [], "relations": [], "entities": [], "parse_error": False}
    triples, relations, entities, err = parse_triples(output, tolerant=tolerant)
    return {
        "ternary": [{"subj": s, "obj": o, "rel": r} for s, o, r in triples],
        "relations": relations,
        "entities": entities,
        "parse_error": err,
    }

"""Per-document Python steps, chained inside one ``mapInArrow`` crossing.

A step is plain Python over one document: it reads some of the document's
columns and returns its new column values; no step drops a document (a
filter goes above the crossing, see below). ``run_steps`` runs a list of
steps inside ONE ``mapInArrow``, so a chain of stages (annotate → remap →
consensus → expand) crosses into Python once per document, on one worker
per task.

Why ``mapInArrow`` and not struct-returning pandas UDFs: a filter over a
UDF's output (``size(consensus_label) > 0``) is pushed below the projection
that computes it, and Catalyst inlines a second copy of the UDF into the
pushed filter, so every Python node runs twice. A ``mapInArrow`` relation
is opaque to the optimizer: a filter over it stays above it.

Only the columns the steps read are converted to Python objects. Every
other input column passes through as the Arrow array it arrived as. An
emitted column replaces the input column of the same name in place; new
columns are appended in emission order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


@dataclass(frozen=True)
class Step:
    """``fn(*values of reads) -> tuple of emits`` per document;
    ``prepare(*columns of reads)`` (optional) runs once per Arrow batch
    before ``fn``, over the batch's read columns as Python lists."""

    name: str
    reads: tuple[str, ...]
    emits: tuple[StructField, ...]
    fn: Callable
    prepare: Callable | None = None


def run_steps(df: DataFrame, steps: Sequence[Step]) -> DataFrame:
    """``df`` with ``steps`` applied in order, in one ``mapInArrow``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    emitted: dict[str, StructField] = {}
    for step in steps:
        for field in step.emits:
            emitted[field.name] = field
    in_names = set(df.columns)
    fields = [emitted.get(f.name, f) for f in df.schema.fields]
    fields += [f for name, f in emitted.items() if name not in in_names]
    schema = StructType(fields)
    arrow_schema = to_arrow_schema(schema)
    out_names = [f.name for f in fields]
    # input columns some step reads before any earlier step emits them
    produced: set[str] = set()
    converted: list[str] = []
    for step in steps:
        converted += [c for c in step.reads if c not in produced and c not in converted]
        produced.update(f.name for f in step.emits)
    missing = [c for c in converted if c not in in_names]
    if missing:
        raise ValueError(f"steps read columns the input lacks: {missing}")

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            cols = {c: batch.column(c).to_pylist() for c in converted}
            for step in steps:
                args = [cols[c] for c in step.reads]
                if step.prepare is not None:
                    step.prepare(*args)
                outs: list[list] = [[] for _ in step.emits]
                for vals in zip(*args):
                    for out, v in zip(outs, step.fn(*vals)):
                        out.append(v)
                cols.update(zip((f.name for f in step.emits), outs))
            arrays = [
                pa.array(cols[name], type=afield.type) if name in emitted else batch.column(name)
                for name, afield in zip(out_names, arrow_schema)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    # the plan shows the function's name: name it after its steps
    run.__name__ = run.__qualname__ = "steps_" + "_".join(s.name for s in steps)
    return df.mapInArrow(run, schema)

"""The flagship operator: distributed convert/clean over interleaved docs.

Spark plan shape (SURVEY.md §3 re-expression):

    scan (column-pruned: doc_id, source_file, spans)
      -> [optional] size-balanced repartition        (plans/salting.py)
      -> MapInPandas: convert kernel                 (this module)
      -> downstream writes / aggregations

Exactly ONE Python stage. The kernel body is
``reference_semantics.convert.convert_spans_doc`` — the same function that
generates the golden fixtures, so the span-equality gate holds by
construction. Data crosses the JVM/Python boundary as Arrow record batches
(mapInPandas); there is no row-at-a-time Python UDF anywhere in the plan
(north-rule vectorization constraint, BASELINE.md).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..reference_semantics.convert import convert_spans_doc

_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

CONVERT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("source_file", T.StringType()),
        T.StructField("spans", T.ArrayType(_SPAN_STRUCT)),
        T.StructField("document_type", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("lines_removed", T.IntegerType()),
        T.StructField("headings_added", T.IntegerType()),
        T.StructField("character_count", T.IntegerType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error_message", T.StringType()),
    ]
)


def _as_span_dicts(spans) -> list[dict]:
    """Arrow hands list<struct> to pandas as an ndarray/list of dicts."""
    if spans is None:
        return []
    return [
        s if isinstance(s, dict) else dict(zip(("kind", "text", "media_ref", "offset"), s))
        for s in spans
    ]


def _convert_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        has_source = "source_file" in pdf.columns
        has_hash = "input_hash" in pdf.columns
        out_rows = []
        for i, (doc_id, spans, source_file) in enumerate(
            zip(
                pdf["doc_id"],
                pdf["spans"],
                pdf["source_file"] if has_source else pdf["doc_id"],
            )
        ):
            res = convert_spans_doc(
                str(doc_id),
                _as_span_dicts(spans),
                source_file=str(source_file) if has_source else None,
            )
            res["source_file"] = str(source_file) if has_source else f"{doc_id}.pdf"
            if has_hash:
                res["input_hash"] = pdf["input_hash"].iloc[i]
            out_rows.append(res)
        cols = [f.name for f in CONVERT_OUTPUT_SCHEMA.fields]
        if has_hash:
            cols = cols + ["input_hash"]
        yield pd.DataFrame(out_rows, columns=cols)


def convert_documents(
    df: DataFrame,
    balance_partitions: Optional[int] = None,
) -> DataFrame:
    """Convert a span-shaped documents DataFrame.

    Input columns: ``doc_id`` (string), ``spans`` (array<struct>), and
    optionally ``source_file``. Set ``balance_partitions`` to apply the
    size-aware placement from plans/salting before the kernel stage (worth it
    when the corpus has a heavy size tail; costs one shuffle). The kernel
    runs as one ``mapInPandas`` stage: an Arrow-native wrapper that skips
    pandas measured slower (25-32 s vs 16.4 s on the 1M-doc corpus at
    local[32]; ``pa.array`` re-inferring nested list<struct> values from
    Python dicts per batch dominated).
    """
    cols = ["doc_id", "spans"] + [
        c for c in ("source_file", "input_hash") if c in df.columns
    ]
    pruned = df.select(*cols)  # explicit projection -> parquet reads few cols
    if balance_partitions:
        from ..plans.salting import balance_by_size

        pruned = balance_by_size(pruned, balance_partitions)
    schema = CONVERT_OUTPUT_SCHEMA
    if "input_hash" in df.columns:
        schema = T.StructType(
            schema.fields + [T.StructField("input_hash", T.StringType())]
        )
    return pruned.mapInPandas(_convert_batches, schema=schema)

"""The encode -> decode skeleton the codec round-trip queries share.

Each round-trip query synthesizes a payload per document and decodes it
in the same narrow ``mapInArrow`` pass (``roundtrip``), checking the
decode against closed-form truth.  The payload never leaves the Python
worker: the pass reads the input Arrow batch's columns as Python values,
runs encode then decode per row and writes one Arrow batch in the output
schema.  A query supplies only its per-row source/encode and per-row
decode.

``_encode_stage`` is the encode half alone, as its own ``mapInPandas``
stage, for the composites whose decode sits behind a shuffle (a
digest-keyed dedupe of the payloads).

Shipping: the package is registered with cloudpickle's pickle-by-value
(``mincemeatpy_spark/__init__.py``), so the per-row functions and every
module-level helper they reach travel with the stage closure — executors
need not have the package on ``sys.path``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


class _WorkerMemo(dict):
    """A memo dict that pickles EMPTY.  Codecs fill it as they run; each
    copy shipped by value (one per task) starts fresh instead of carrying
    whatever the driver process has accumulated."""

    def __reduce__(self):
        return type(self), ()


def _ddl_names(ddl: str) -> list[str]:
    return [col.split()[0] for col in ddl.split(",")]


def _encode_stage(
    src: DataFrame, encode_row: Callable, carry: str = ""
) -> DataFrame:
    """Stage ``encode``: ``encode_row(*row)`` per ``src`` row (first
    column ``doc_id``) returns the payload bytes, or ``(payload,
    *truths)`` when ``carry`` declares truth columns (``"true_r long,
    ..."``) for the decode stage to check against."""
    schema = "doc_id long, payload binary" + (f", {carry}" if carry else "")
    cols = _ddl_names(schema)

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                out = encode_row(*row)
                rows.append((row[0], *out) if carry else (row[0], out))
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(encode, schema=schema)


def _codec_roundtrip(
    src: DataFrame,
    encode_row: Callable,
    decode_row: Callable,
    schema: str,
    carry: str = "",
) -> DataFrame:
    """One ``roundtrip`` pass.  Per ``src`` row (first column
    ``doc_id``), ``encode_row(*row)`` returns the payload bytes, or
    ``(payload, *truths)`` when ``carry`` declares truth columns; then
    ``decode_row(doc_id, payload, *truths)`` returns the document's
    output rows as a list of dicts (0..n of them — an animation emits
    one per frame).  The harness reads the output ``schema``'s columns
    after ``doc_id`` from each by name."""
    out_schema = to_arrow_schema(StructType.fromDDL(schema))
    out_cols = out_schema.names[1:]

    def roundtrip(
        batches: Iterator["pa.RecordBatch"],
    ) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for batch in batches:
            cols: list[list] = [[] for _ in out_schema]
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                out = encode_row(*row)
                payload, *truths = out if carry else (out,)
                for m in decode_row(row[0], bytes(payload), *truths):
                    cols[0].append(row[0])
                    for col, c in zip(cols[1:], out_cols):
                        col.append(m[c])
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(cols, out_schema)],
                schema=out_schema,
            )

    return src.mapInArrow(roundtrip, schema)

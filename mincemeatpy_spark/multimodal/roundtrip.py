"""The one row stage every multimodal Python stage runs on.

A codec stage is the reference's ``mapfn`` applied to one row: one
document in, 0..n rows out (mincemeat.py:167-173).  ``_row_stage`` is
that map as one narrow ``mapInArrow`` pass: it reads each input Arrow
batch's columns as Python values, calls the per-row function on every
row and writes one Arrow batch in the output schema.

``_codec_roundtrip`` is the encode -> decode skeleton the codec
round-trip queries share, on top of it: each row's payload is
synthesized and decoded in the same pass (``roundtrip``), checked
against closed-form truth, and never leaves the Python worker.  A query
supplies only its per-row source/encode and per-row decode.

Shipping: the package is registered with cloudpickle's pickle-by-value
(``mincemeatpy_spark/__init__.py``), so the per-row functions and every
module-level helper they reach travel with the stage closure — executors
need not have the package on ``sys.path``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


class _WorkerMemo(dict):
    """A memo dict that pickles EMPTY.  Codecs fill it as they run; each
    copy shipped by value (one per task) starts fresh instead of carrying
    whatever the driver process has accumulated."""

    def __reduce__(self):
        return type(self), ()


def _row_stage(
    src: DataFrame, row_fn: Callable[..., Iterable[dict]], schema: str
) -> DataFrame:
    """One ``mapInArrow`` pass named after ``row_fn``.  Per ``src`` row,
    ``row_fn(*row)`` gets the row's Python values and returns its output
    rows as dicts (0..n of them); the stage reads each dict by the
    output ``schema``'s column names."""
    out_schema = to_arrow_schema(StructType.fromDDL(schema))
    names = out_schema.names

    def stage(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for batch in batches:
            cols: list[list] = [[] for _ in names]
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                for m in row_fn(*row):
                    for col, c in zip(cols, names):
                        col.append(m[c])
            yield pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(cols, out_schema)],
                schema=out_schema,
            )

    stage.__name__ = row_fn.__name__
    return src.mapInArrow(stage, schema)


def _codec_roundtrip(
    src: DataFrame,
    encode_row: Callable,
    decode_row: Callable,
    schema: str,
) -> DataFrame:
    """One ``roundtrip`` pass.  Per ``src`` row (first column
    ``doc_id``), ``encode_row(*row)`` returns the payload bytes, or a
    tuple ``(payload, *truths)``; then ``decode_row(doc_id, payload,
    *truths)`` returns the document's output rows as dicts (0..n of
    them — an animation emits one per frame), each written with the
    row's ``doc_id``."""

    def roundtrip(doc_id, *cols):
        out = encode_row(doc_id, *cols)
        payload, *truths = out if isinstance(out, tuple) else (out,)
        return [
            {**m, "doc_id": doc_id}
            for m in decode_row(doc_id, bytes(payload), *truths)
        ]

    return _row_stage(src, roundtrip, schema)

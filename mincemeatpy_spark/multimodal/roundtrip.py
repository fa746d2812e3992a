"""The encode -> decode skeleton the codec round-trip queries share.

Each round-trip query synthesizes a payload per document in one narrow
``mapInPandas`` stage (``encode``) and decodes it in the next
(``decode``), checking the decode against closed-form truth.  The
builders here own the pandas batch loops, the ``doc_id long, payload
binary[, truth columns]`` intermediate and the output frame; a query
supplies only its per-row source/encode and per-row decode.

Shipping: the package is registered with cloudpickle's pickle-by-value
(``mincemeatpy_spark/__init__.py``), so the per-row functions and every
module-level helper they reach travel with the stage closure — executors
need not have the package on ``sys.path``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


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
    """``encode`` then ``decode``.  ``decode_row(doc_id, payload,
    *truths)`` returns the document's output rows as a list of dicts
    (0..n of them — an animation emits one per frame); the harness reads
    the output ``schema``'s columns after ``doc_id`` from each by name."""
    out_cols = _ddl_names(schema)

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = [
                (doc_id, *(m[c] for c in out_cols[1:]))
                for doc_id, payload, *truths in zip(
                    *(pdf[c] for c in pdf.columns)
                )
                for m in decode_row(doc_id, bytes(payload), *truths)
            ]
            yield pd.DataFrame(rows, columns=out_cols)

    return _encode_stage(src, encode_row, carry).mapInPandas(
        decode, schema=schema
    )

"""The one Arrow row pass behind the per-item payload operators.

Codec-neutral: an operator supplies the ``decode`` of one zero-copy payload
view (``audio._decode_view``, an image or video container parser, or the
UTF-8 view itself) and its per-item row math; the select, the views, the
per-row loop and the output batch build live here once.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _binary_views(arr: pa.Array) -> tuple[Callable[[int], np.ndarray | None], np.ndarray | None]:
    """Zero-copy row accessor for an Arrow Binary/String array (either
    offset width; a string row is its UTF-8 bytes).

    Returns (get(i) -> uint8 view | None, validity bool array | None).
    Views slice the array's single shared data buffer — no per-row copy."""
    large = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    odt = np.int64 if large else np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt, count=len(arr) + 1 + arr.offset)[arr.offset:]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    valid = None
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)

    def get(i: int) -> np.ndarray | None:
        if valid is not None and not valid[i]:
            return None
        return data[offsets[i] : offsets[i + 1]]

    return get, valid


def _decoded_map(
    items: DataFrame,
    schema: T.StructType,
    rows: Callable[[object, object, object], Iterable[tuple]],
    *,
    id_col: str,
    decode: Callable[[np.ndarray | None], tuple[object, object]],
    bytes_col: str = "bytes",
    keep_columns: tuple = (),
) -> DataFrame:
    """The one Arrow decode pass behind every per-item payload operator.

    Selects ``(id_col, bytes_col, *keep_columns)``, calls ``decode`` on each
    payload's zero-copy view (``None`` for a NULL payload), which returns a
    pair, and calls ``rows(id, *pair)``; a decode that raises ``ValueError``
    or ``NotImplementedError`` gives the pair ``(None, None)``. ``rows``
    yields that item's output tuples in ``schema`` order: none, one or
    many. Batches are built with the Arrow types of ``schema`` itself, and
    each keep column rides along once per output row of its item, so the
    result is ``schema`` (its first field, the id, named ``id_col``) plus
    the keep columns. Narrow, no shuffle."""
    src = items.select(id_col, bytes_col, *keep_columns)
    id_field, *rest = schema.fields
    out_schema = T.StructType(
        [T.StructField(id_col, id_field.dataType, id_field.nullable)]
        + rest + [src.schema[c] for c in keep_columns]
    )
    types = [f.type for f in to_arrow_schema(schema)]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_pylist()
            get, _ = _binary_views(batch.column(1))
            out: list[tuple] = []
            src_row: list[int] = []
            for i in range(batch.num_rows):
                try:
                    a, b = decode(get(i))
                except (ValueError, NotImplementedError):
                    a = b = None
                for row in rows(ids[i], a, b):
                    out.append(row)
                    src_row.append(i)
            yield _rows_batch(out, types, batch, keep_columns, src_row, out_schema.names)

    return src.mapInArrow(run, schema=out_schema)


def _rows_batch(rows: list[tuple], types: list, batch: pa.RecordBatch, keep: tuple,
                src_row: list, names: list[str]) -> pa.RecordBatch:
    """Output batch of a decode pass: ``rows`` in the Arrow ``types``, then each
    ``keep`` column of ``batch`` at the row's source index (``None``: NULL)."""
    cols = zip(*rows) if rows else [()] * len(types)
    take = pa.array(src_row, pa.int64())
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, types)]
        + [batch.column(k).take(take) for k in keep],
        names=names,
    )

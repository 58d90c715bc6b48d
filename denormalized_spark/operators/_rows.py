"""The package's one per-row Python map.

Media decoders and synthesizers, the BPE encoders and the Avro codec
all have the same shape: a Python function turns each row's input
values into a fixed tuple of output values, run over Arrow batches by
``mapInPandas`` (one Python worker per task, no shuffle).
:func:`map_rows` is that shape, written once.

Failure is the row function's job: it returns ``None`` for input it
cannot parse, and the row becomes all-NULL in the output columns. The
scaffold catches nothing, so a bug in a row function fails its task.
The fan-out kernels (``multimodal.audio_chunks``,
``multimodal.sample_frames``) emit several rows per input row and keep
their own vectorized row repeat.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# nullable pandas dtypes for integral outputs, so a NULL row never
# turns an integer column into floats
_NULLABLE_INT = {T.IntegerType: "Int32", T.LongType: "Int64"}


def map_rows(
    df: DataFrame,
    fields: Sequence[T.StructField],
    row_fn: Callable[..., tuple | None],
    cols: Sequence[str],
    keep: Sequence[str] | None = None,
) -> DataFrame:
    """``df`` → the ``keep`` columns (default: all of ``df``) followed
    by ``fields``, where each row's field values are
    ``row_fn(*row[cols])``: a tuple in ``fields`` order, or ``None``
    for an all-NULL row.

    With ``keep`` given, only ``keep`` and ``cols`` reach Python. State
    a row function closes over (a cache) is shipped with it, so each
    task gets its own copy, kept across that task's batches."""
    keep = list(df.columns if keep is None else keep)
    src = df if keep == df.columns else df.select(*dict.fromkeys([*keep, *cols]))
    dropped = [c for c in src.columns if c not in keep]
    out_schema = T.StructType([src.schema[c] for c in keep] + list(fields))
    names = [f.name for f in fields]
    dtypes = [_NULLABLE_INT.get(type(f.dataType)) for f in fields]
    nulls = (None,) * len(fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            rows = [row_fn(*vals) for vals in zip(*(pdf[c] for c in cols))]
            out = pdf.drop(columns=dropped) if dropped else pdf
            values = zip(*(nulls if r is None else r for r in rows))
            for name, dtype, col in zip(names, dtypes, values):
                out[name] = pd.array(col, dtype=dtype) if dtype else list(col)
            yield out

    return src.mapInPandas(kernel, out_schema)

"""One Arrow-batched scaffold for every per-row Python kernel.

A per-row kernel is a Python function over one row's input values, run
inside `mapInPandas` so rows cross the JVM boundary in Arrow batches.
Every such kernel in the package runs on this module, in one of two
shapes:

- `row_map`: one output row per input row (a decode, a feature vector,
  an encoded payload). A null-intolerant map (every decoder) gives a
  NULL payload the all-NULL row, as `explode` quarantines it;
- `explode`: zero or more output rows per input row (the records of a
  container, the frames of a video). The row function may raise one of
  the kernel's declared exceptions; the kernel's quarantine row, or
  nothing, then takes the payload's place. A NULL payload counts as
  malformed.

A kernel declares its output once, as ``(name, Spark type, pandas
dtype)`` triples: the scaffold builds the Spark schema and every batch's
typed frame from them (a dtype of None keeps plain Python values, e.g.
bytes, strings and lists). The first column is the key: an input column
passed through unchanged, so the row functions see only their inputs.
The scaffold never repartitions; `id_kernel` alone spreads its ids
first, as the fixture kernels need.

Kernels with per-task state or whole-batch numpy work (BPE, unigram,
dual-encoder serving, block matmul, Misra-Gries) keep their own
mapInPandas; tests/test_package_guards.py lists them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["Column", "row_map", "explode", "payload_map", "id_kernel"]

#: One output column: (name, Spark type, pandas dtype or None).
Column = tuple[str, T.DataType, "str | None"]


def _run(df: DataFrame, columns: Sequence[Column], inputs: Sequence[str], batch) -> DataFrame:
    """The one batch loop: ``batch(key series, input value tuples)``
    returns the output keys and row tuples of one Arrow batch."""
    key = columns[0][0]
    schema = T.StructType([T.StructField(n, t) for n, t, _d in columns])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, rows = batch(pdf[key], zip(*(pdf[c] for c in inputs)))
            values = list(zip(*rows)) or [()] * (len(columns) - 1)
            out = {key: keys}
            for (name, _t, dtype), vals in zip(columns[1:], values):
                if dtype:
                    out[name] = pd.array(list(vals), dtype=dtype)
                else:
                    # an empty list would become a float64 column, which Arrow
                    # cannot cast to every Spark type (array<double> fails)
                    out[name] = list(vals) or np.empty(0, dtype=object)
            yield pd.DataFrame(out)

    return df.select(key, *(c for c in inputs if c != key)).mapInPandas(kernel, schema)


def row_map(
    df: DataFrame,
    fn: Callable[..., tuple],
    columns: Sequence[Column],
    *,
    inputs: Sequence[str],
    null_intolerant: bool = False,
) -> DataFrame:
    """1→1: ``fn(*values of inputs)`` returns each row's output columns
    after the key. With ``null_intolerant``, a NULL first input (the
    payload) gives the all-NULL row and ``fn`` is not called, so its
    columns need nullable dtypes."""
    null_row = (None,) * (len(columns) - 1)

    def one(*v) -> tuple:
        return null_row if null_intolerant and v[0] is None else fn(*v)

    return _run(df, columns, inputs, lambda keys, vals: (keys, [one(*v) for v in vals]))


def explode(
    df: DataFrame,
    rows_of: Callable[..., Iterable[tuple]],
    columns: Sequence[Column],
    *,
    inputs: Sequence[str],
    errors: tuple[type[BaseException], ...] = (),
    quarantine: tuple | Callable[[Exception], tuple] | None = None,
) -> DataFrame:
    """1→N: ``rows_of(*values of inputs)`` yields each row's output rows
    after the key. A NULL first input (the payload) or an exception in
    ``errors`` puts the ``quarantine`` row in place of all of that
    payload's rows (a callable builds it from the exception), or no row
    when ``quarantine`` is None."""

    def bad(err: Exception) -> list[tuple]:
        if quarantine is None:
            return []
        return [quarantine(err) if callable(quarantine) else quarantine]

    def batch(keys: pd.Series, vals) -> tuple[np.ndarray, list[tuple]]:
        src, rows = [], []
        for i, v in enumerate(vals):
            if v[0] is None:
                recs = bad(ValueError("null payload"))
            else:
                try:
                    recs = list(rows_of(*v))
                except errors as e:
                    recs = bad(e)
            src += [i] * len(recs)
            rows += recs
        return keys.to_numpy()[np.asarray(src, dtype=np.intp)], rows

    return _run(df, columns, inputs, batch)


def payload_map(
    df: DataFrame,
    id_col: str,
    encode: Callable[..., bytes],
    *,
    inputs: Sequence[str] = (),
) -> DataFrame:
    """``(id long, payload binary)`` from one ``encode(id, *values of
    inputs) -> bytes`` call per row — the fixture encoders' shape."""
    return row_map(
        df,
        lambda rid, *v: (encode(int(rid), *v),),
        [(id_col, T.LongType(), None), ("payload", T.BinaryType(), None)],
        inputs=(id_col, *inputs),
    )


def id_kernel(
    df: DataFrame,
    id_col: str,
    encode_one: Callable[[int], bytes],
    *,
    rows_per_task: int | None = None,
) -> DataFrame:
    """The scaffold every ``synthesize_*`` fixture kernel runs on: the
    id column in, ``(id long, payload binary)`` out, one
    ``encode_one(id) -> bytes`` call per id (`payload_map`).

    The ids are hash-repartitioned to the session's default parallelism
    first. Per-id encode/decode kernels are embarrassingly parallel, but
    a small filtered id range usually sits in 1-2 parquet splits (the
    r7d one-split trap, measured again in r9: multimodal_decode_h264 ran
    its whole 500-GOP encode+decode chain on ONE core — 8.5 s vs ~1.4 s
    spread). The downstream decode mapInPandas inherits this
    partitioning, so the pipeline pays exactly one exchange of 8-byte
    ids. Hash partitioning by id is deterministic (no round-robin retry
    hazard, guide §2.5) and scale-adaptive: the count follows the
    cluster's parallelism, not a constant.

    ``rows_per_task`` (r10, the VERDICT-r9 dedup_audio_envelope fix):
    LIGHT fixture kernels feeding shuffle-heavy consumers should NOT fan
    a 200-row frame to full parallelism — every downstream stage then
    pays ~32 near-empty tasks. Passing a row budget prices the width
    with one bounded count of the id column (scan-rooted, cheap); heavy
    codec kernels (~ms-row) keep the default full spread."""
    n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    ids = df.select(id_col)
    if rows_per_task is not None:
        rows = ids.count()
        n = min(n, max(1, -(-rows // rows_per_task)))
    return payload_map(ids.repartition(n, id_col), id_col, encode_one)

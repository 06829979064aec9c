"""The one Arrow-in/Arrow-out contract every Python kernel runs through.

:func:`arrow_map` is the package's only ``mapInArrow`` call. It owns the
plumbing each kernel used to hand-roll around ``mapInPandas``:

- batching: it selects the kernel's input columns and hands the kernel
  an iterator of non-empty ``pa.RecordBatch``es, so a kernel that
  carries state across batches (a running top-k, the last bucket run,
  the last W chain rows) keeps it in its own generator;
- NULL rows: a kernel never sees a NULL in any of its input columns.
  Those rows are split off here and either dropped (pair, edge and
  chunk kernels) or answered with the kernel's declared NULL row
  (row-preserving kernels);
- the output schema: declared once, as a DDL string or StructType. The
  kernel yields a dict of numpy/Arrow arrays or lists and the batch is
  built against that schema here.

:func:`vectors` is the one ``array<double>``/``array<int>`` column to
``n × DIM`` matrix accessor. Everything stays columnar across the UDF
boundary, with no pandas round trip.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def vectors(col: pa.Array) -> np.ndarray:
    """A list column with no NULL row as an ``n × DIM`` matrix of its
    element type: the flattened child values reshaped, zero-copy when
    the values hold no NULL. Every row must have the same length."""
    lengths = np.diff(col.offsets.to_numpy())
    width = int(lengths[0]) if len(lengths) else 0
    if (lengths != width).any():
        raise ValueError(f"vector lengths differ in one batch: {sorted(set(lengths))}")
    return col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), width)


def frame(batch: pa.RecordBatch, names: Sequence[str]) -> dict[str, np.ndarray]:
    """``batch``'s ``names`` columns as numpy arrays, a list column as its
    :func:`vectors` matrix."""
    cols = {n: batch.column(n) for n in names}
    return {
        n: vectors(c) if pa.types.is_list(c.type) else c.to_numpy(zero_copy_only=False)
        for n, c in cols.items()
    }


def arrow_map(
    df: DataFrame,
    cols: Sequence[str],
    fn: Callable[[Iterator[pa.RecordBatch]], Iterator[Mapping[str, object]]],
    schema: T.StructType | str,
    null_rows: Mapping[str, object] | None = None,
) -> DataFrame:
    """Run ``fn`` over ``df.select(*cols)`` as one ``mapInArrow`` pass.

    ``fn`` gets an iterator of non-empty record batches in which no row
    holds a NULL in any of ``cols``, and yields dicts that map each
    output column of ``schema`` to a numpy array, an Arrow array or a
    list. Rows with a NULL in any of ``cols`` never reach ``fn``: with
    ``null_rows=None`` they emit nothing; otherwise each emits one output
    row whose columns named in ``null_rows`` take that value and whose
    other columns copy the same-named input column.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: list[pa.RecordBatch] = []  # NULL-row answers not yet emitted

        def valid() -> Iterator[pa.RecordBatch]:
            for b in batches:
                if any(c.null_count for c in b.columns):
                    ok = reduce(pc.and_, [c.is_valid() for c in b.columns])
                    if null_rows is not None:
                        nul = b.filter(pc.invert(ok))
                        answer = dict(zip(nul.schema.names, nul.columns))
                        answer.update((k, [v] * nul.num_rows) for k, v in null_rows.items())
                        pending.append(pa.RecordBatch.from_pydict(answer, schema=out_schema))
                    b = b.filter(ok)
                if b.num_rows:
                    yield b

        for out in fn(valid()):
            batch = pa.RecordBatch.from_pydict(out, schema=out_schema)
            if batch.num_rows:
                yield batch
            yield from pending
            pending.clear()
        yield from pending

    return df.select(*cols).mapInArrow(run, schema)

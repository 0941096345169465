"""One per-row Python map for the package: :func:`map_rows`.

A message is one DataFrame row, so every per-message Python stage
(``$htmlExtract``, ``$textFeatures``, the media decoders, ``$http``,
``$log``, ``$jq``, ...) is a map from input rows to output rows.  This
module owns the parts those stages share: Arrow batching, the output
schema, and the pass-through of the columns a kernel does not touch.

Pass-through columns stay Arrow arrays end to end.  They never go
through pandas, where a nullable bigint becomes float64 (9007199254740993
comes back as 9007199254740992) and a nested NaN is indistinguishable
from NULL.  Output schemas are ``StructType``s, so column names that
need quoting (``my id``, ``content-type``) never meet a DDL parser.

Adjacent per-row stages run as one Arrow pass: ``map_rows`` applied
directly to another ``map_rows`` output composes the two batch
functions into one ``mapInArrow`` over the first one's input, so a run
of stages is one Python node, one worker round trip per batch.  Any
other operator in between (even ``select("*")``) or a ``persist`` of
the intermediate frame keeps them apart.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["map_rows"]


def map_rows(
    df: DataFrame,
    kernel: Callable,
    inputs: Sequence[str],
    outputs: Sequence[tuple],
    keep: Sequence[str] | None = None,
    spread: bool = False,
) -> DataFrame:
    """Run ``kernel`` over each Arrow batch of ``df``.

    ``kernel(*cols)`` receives the ``inputs`` columns of one batch as
    Python lists and returns one sequence per ``outputs`` entry, a
    ``(name, type)`` pair whose type is a ``DataType`` or a DDL type
    string.  A flat-map returns one more list first: the input row of
    each output row (rows may repeat or be dropped).  A flat-map that
    builds rows may return ``zip(*rows)``; no columns means no rows.

    The ``keep`` columns (default: every column not named in
    ``outputs``) pass through as Arrow arrays, taken by that index for
    a flat-map; the output is ``keep`` then ``outputs``.  A float NaN
    in an output is written as NULL: that is Spark's pandas null
    convention, which the kernels were written against.

    Each task unpickles its own copy of ``kernel``, so state the
    kernel builds lazily in its closure (a compiled script, a snapshot)
    is set up once per task.

    ``spread`` repartitions the input round-robin to the session's
    default parallelism first, for CPU-heavy kernels over inputs that
    arrive as few splits.  In a run of adjacent stages the spread
    happens once, in front of the run's first kernel.
    """
    out_fields = [
        T.StructField(name, T.DataType.fromDDL(t) if isinstance(t, str)
                      else t)
        for name, t in outputs
    ]
    if keep is None:
        named = {f.name for f in out_fields}
        keep = [c for c in df.columns if c not in named]
    schema = T.StructType([df.schema[c] for c in keep] + out_fields)
    names = [*keep, *(f.name for f in out_fields)]

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        types = [to_arrow_type(f.dataType) for f in out_fields]
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = list(kernel(*(batch.column(c).to_pylist()
                                 for c in inputs)))
            if types and not cols:
                continue
            kept = [batch.column(c) for c in keep]
            if len(cols) > len(types):
                index, *cols = cols
                index = pa.array(index, pa.int64())
                kept = [a.take(index) for a in kept]
            yield pa.RecordBatch.from_arrays(
                kept + [pa.array(c, t, from_pandas=True)
                        for c, t in zip(cols, types)],
                names=names)

    # a run of adjacent stages: (its input, its batch function, spread)
    src, prev, spread_done = df.__dict__.get("_row_run", (df, None, False))
    if df.is_cached:
        src, prev, spread_done = df, None, False
    if spread and not spread_done:
        src = src.repartition(src.sparkSession.sparkContext
                              .defaultParallelism)
    fn = run if prev is None else (lambda batches: run(prev(batches)))
    out = src.mapInArrow(fn, schema)
    out._row_run = (src, fn, spread or spread_done)
    return out

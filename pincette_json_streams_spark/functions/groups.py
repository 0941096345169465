"""One grouped Python call for the package: :func:`map_groups`.

Every operator that runs Python over the rows of one key (the aggregate
fold, the ``$delay`` hold, the change feed's operation kinds, the
vector-pair buckets) goes through :func:`map_groups`, the only caller
of Spark's ``applyInPandas`` and ``applyInPandasWithState``.

A grouped call hands each group to Python as a pandas frame, where a
nullable bigint becomes float64 (2^60+1 comes back as 2^60) and a NaN
comes back as NULL.  So the columns a function passes through without
reading them, its *payload*, never reach pandas typed: they travel as
one JSON string per row (:func:`pack`) and are read back with their
schema after the call (:func:`unpack`).  The format carries every Spark
type exactly: longs, NaN and ±inf, decimals, dates, binary, structs,
arrays and maps, and timestamps to the microsecond, which Spark's
default JSON timestamp format cuts to milliseconds.  The ``$delay``
spool stores its messages in the same format.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

__all__ = ["map_groups", "pack", "unpack", "PACKED"]

# the packed payload column a grouped function reads and returns
PACKED = "__row"

_FORMAT = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def pack(*cols) -> Column:
    """The columns ``cols`` of a row as one exact JSON string."""
    return F.to_json(F.struct(*cols), _FORMAT)


def unpack(col, schema) -> Column:
    """A struct of ``schema`` (DDL or ``StructType``) read back from
    :func:`pack`'s string ``col``."""
    return F.from_json(col, schema, _FORMAT)


def map_groups(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable,
    schema: str,
    payload: Sequence[str] = (),
    state: str | None = None,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Run ``fn`` over the rows of each ``keys`` group of ``df``.

    Without ``state`` this is the batch call: ``fn(pdf)`` returns a
    pandas frame of the ``schema`` (DDL) columns.  With ``state``, the
    DDL of the per-key state, it is the streaming call in append mode:
    ``fn(key, pdfs, state)`` yields such frames, under ``timeout``.

    The ``payload`` columns reach ``fn`` packed, as the one string
    column ``PACKED``; ``fn`` returns the ``PACKED`` value of each
    output row beside its ``schema`` columns, and the result is the
    ``schema`` columns followed by the payload columns, unpacked.  The
    other columns of ``df`` (those ``fn`` reads, and the keys) reach it
    typed.
    """
    out_schema = schema
    if payload:
        struct = T.StructType([df.schema[c] for c in payload])
        df = df.select(
            *keys, *[c for c in df.columns if c not in (*keys, *payload)],
            pack(*payload).alias(PACKED))
        out_schema = ", ".join(filter(None, (schema, f"{PACKED} string")))
    grouped = df.groupBy(*keys)
    if state is None:
        out = grouped.applyInPandas(fn, out_schema)
    else:
        out = grouped.applyInPandasWithState(
            fn, outputStructType=out_schema, stateStructType=state,
            outputMode="append", timeoutConf=timeout)
    if not payload:
        return out
    named = [F.col(f"`{c}`") for c in out.columns if c != PACKED]
    return out.select(*named, unpack(PACKED, struct).alias(PACKED)) \
        .select(*named, f"{PACKED}.*")

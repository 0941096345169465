"""The collection surface every backend provides.

The reference stores collections in MongoDB and tails change streams
(App.java:650-683); SURVEY.md §1.3 maps that to Delta tables + Change
Data Feed.  The backend here is the dependency-free parquet commit log
(``ChangeLogCollection``, sources/changelog.py).  The WRITE/READ
surface is a small protocol, kept so another backend can replace it
without touching any caller:

=================  ==========================  =========================
operation          ChangeLogCollection          delivery
=================  ==========================  =========================
upsert(df)         append full-doc versions     one staged append
delete(df)         append tombstones            one staged append
write(df, epoch)   ``upsert`` (a ``Sink``)      each epoch once through
                                                ``streaming.sinks.
                                                start_sink``
snapshot(spark)    last-writer-wins window      -
change_stream()    file stream + keyed state    each commit once per
                                                checkpoint
compact()          log rewrite                  staged overwrite
=================  ==========================  =========================

Values: ``change_stream`` carries every document type exactly as
``snapshot`` returns it (bigints beside NULL, NaN, ±inf, decimals,
binary, nested types, timestamps to the microsecond): the document
columns pass its grouped state call packed (``functions.groups``).
``$delay`` redelivery into a topic keeps them the same way.  Kafka's
wire JSON (``streaming.runtime.kafka_sink``) is an external format and
stays at Spark's default, timestamps to the millisecond.
"""

from __future__ import annotations

from typing import Optional, Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession

__all__ = ["CollectionStore"]


@runtime_checkable
class CollectionStore(Protocol):
    """The collection surface every backend must provide — the contract
    ``toCollection`` sinks and ``fromCollection`` sources compile
    against (streaming/runtime.py collection_change_stream).  A
    collection is also a ``streaming.sinks.Sink``."""

    def upsert(self, df: DataFrame) -> None: ...

    def delete(self, df: DataFrame) -> None: ...

    def write(self, df: DataFrame, epoch_id: int) -> None: ...

    def snapshot(self, spark: SparkSession) -> DataFrame: ...

    def change_stream(
        self, spark: SparkSession,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame: ...

    def compact(self, spark: SparkSession) -> None: ...

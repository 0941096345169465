"""Change-log collections: the incremental ``fromCollection`` source.

The reference tails MongoDB change streams with persisted resume tokens
(App.java:650-683 fromCollection; App.java:1056-1081 resume-token
persistence) and emits insert/replace/delete events per document.  The
Spark-first equivalent (SURVEY.md §1.1 maps this to Delta CDF; this
module is the dependency-free analogue on plain parquet):

- **Storage is a commit log, not a table**: every ``upsert``/``delete``
  appends immutable parquet files under ``data/`` carrying the full
  document, a monotonic ``__commit`` stamp, and a ``__deleted``
  tombstone flag.  Appends are atomic at file granularity — exactly the
  contract Spark's file-stream source needs.
- **The collection is a ``streaming.sinks.Sink``**: ``write(df,
  epoch_id)`` is ``upsert``, so ``start_sink(collection, df,
  checkpoint)`` is the streaming ``toCollection`` sink and logs each
  epoch once.
- **The change feed is a stream over the log**: ``readStream`` over
  ``data/`` (the file-source checkpoint IS the resume token — processed
  files are never re-read across restarts), then a per-``_id`` state
  call (``functions.groups.map_groups``) derives the Mongo
  change-stream ``operationType``: the first version of a key is an
  ``insert``, later versions are ``replace``, tombstones are
  ``delete``.  The existence flag lives in the checkpointed state
  store, so kinds stay correct across restarts too (an upsert after a
  restart yields ``replace``, not ``insert``).  The document columns
  pass through that call packed, so every event carries its values
  exactly as ``snapshot`` does, timestamps to the microsecond.
- **The batch view is last-writer-wins**: ``snapshot`` resolves the
  latest version per key and drops tombstones — one window shuffle at
  any scale; at 100 TB this is the standard log-compaction read, and
  ``compact()`` materializes it back into the log directory's
  ``snapshot/`` for cheap cold starts.

State size is O(live keys) in the RocksDB-backed state store — the same
asymptotic cost Mongo pays for its _id index.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pincette_json_streams_spark.functions.groups import PACKED, map_groups
from pincette_json_streams_spark.streaming.sinks import publish

__all__ = ["ChangeLogCollection"]


class ChangeLogCollection:
    """A parquet-backed collection whose writes are an append-only
    change log (module docstring has the design)."""

    def __init__(self, root: str, schema: str):
        """``schema`` is the DOCUMENT schema DDL (must include ``_id``);
        the log adds ``__commit long`` and ``__deleted boolean``."""
        self.root = root
        self.schema = schema
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.data_dir, exist_ok=True)

    @property
    def log_schema(self) -> str:
        return f"{self.schema}, __commit long, __deleted boolean"

    # -- writes ------------------------------------------------------------

    def _stamp(self, df: DataFrame, deleted: bool) -> DataFrame:
        # one commit stamp per write call: time_ns is monotonic enough
        # across sequential commits on one writer; concurrent writers
        # would use a coordination service exactly as Delta does
        commit = time.time_ns()
        return df.withColumn("__commit", F.lit(commit)) \
                 .withColumn("__deleted", F.lit(deleted))

    def upsert(self, df: DataFrame) -> None:
        """Append full-document versions (Mongo replace-upsert shape —
        the reference's ``toCollection`` sink semantics)."""
        publish({self.data_dir: self._stamp(df, False)})

    def write(self, df: DataFrame, epoch_id: int) -> None:
        """``Sink`` form of ``upsert``: downstream ``change_stream``
        readers see the epoch's documents as insert/replace events."""
        self.upsert(df)

    def delete(self, df: DataFrame) -> None:
        """Append tombstones for the ``_id`` values in ``df``."""
        from pyspark.sql.types import StructType

        ids = df.select("_id")
        # tombstones carry the document schema with TYPED nulls so the
        # log stays single-schema (an untyped lit(None) would write a
        # mismatching parquet type)
        tomb = ids
        for field in StructType.fromDDL(self.schema).fields:
            if field.name != "_id":
                tomb = tomb.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        publish({self.data_dir: self._stamp(tomb, True)})

    # -- reads -------------------------------------------------------------

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Latest live version per ``_id`` (the batch 'collection' view).
        One key shuffle; tombstoned keys drop out."""
        log = spark.read.schema(self.log_schema).parquet(self.data_dir)
        w = Window.partitionBy("_id").orderBy(F.desc("__commit"))
        return (
            log.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & ~F.col("__deleted"))
            .drop("__rn", "__commit", "__deleted")
        )

    def change_stream(
        self,
        spark: SparkSession,
        max_files_per_trigger: Optional[int] = None,
    ) -> DataFrame:
        """The Mongo-change-stream-shaped feed: document columns plus
        ``operationType`` in {insert, replace, delete}.

        File-source checkpoint = resume token; per-key existence state
        (checkpointed) turns versions into kinds.  Within a micro-batch
        a key's versions replay in ``__commit`` order."""
        src = (
            spark.readStream.schema(self.log_schema).format("parquet")
        )
        if max_files_per_trigger:
            src = src.option("maxFilesPerTrigger",
                             str(max_files_per_trigger))
        log = src.load(self.data_dir)

        def kinds(key, pdfs, state):
            import pandas as pd

            exists = bool(state.get[0]) if state.exists else False
            ops = []
            pdf = pd.concat(list(pdfs)).sort_values("__commit",
                                                    kind="stable")
            for deleted in pdf["__deleted"].tolist():
                ops.append("delete" if deleted else
                           "replace" if exists else "insert")
                exists = not deleted
            state.update((exists,))
            yield pd.DataFrame({"operationType": ops,
                                PACKED: pdf[PACKED].tolist()})

        return map_groups(
            log, ["_id"], kinds, "operationType string",
            payload=[c for c in log.columns
                     if c not in ("__commit", "__deleted")],
            state="exists boolean")

    def compact(self, spark: SparkSession) -> None:
        """Log compaction: rewrite the log as one snapshot commit.  The
        change feed's file checkpoint must be fresh after a compaction
        (same contract as vacuuming a Delta table past a reader's
        horizon); run it between stream deployments."""
        publish({self.data_dir: self._stamp(self.snapshot(spark), False)},
                "overwrite")

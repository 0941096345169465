"""One sink layer: every writer of the package is a ``Sink`` with
``write(df, epoch_id)``.

Batch output is one call with epoch 0 (CLI ``run``).  Streaming output
is ``start_sink``: a ``foreachBatch`` query whose epochs go through
``write_epoch``, the only code that decides whether an epoch was
already committed (Structured Streaming, SIGMOD'18 §6: sinks that are
idempotent per epoch).

An epoch is written in three steps:

1. ``publish`` stages every DataFrame of the epoch under a hidden
   ``_staging-<uuid>`` directory inside its target.  Readers skip
   ``_``-prefixed paths, so a failed Spark job changes no target.
2. The staged part files are renamed into their targets.
3. ``write_epoch`` writes a marker for the epoch under
   ``<checkpoint>/sink-epochs``.  When Spark replays the epoch after a
   restart, the marker makes ``write_epoch`` skip it.  The marker lives
   in the query's checkpoint, so a query with a fresh checkpoint never
   skips an epoch, even into the same target.

Crash window: a crash after the renames of step 2 and before the marker
of step 3 leaves the epoch's files in place without a marker, and the
replay writes them once more.  A crash during step 2 leaves part of the
epoch moved in.  Paths are local (or mounted) directories, since the
moves are ``os.rename``.  Kafka output cannot be staged, so
``streaming.runtime.kafka_sink`` stays at-least-once.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Protocol

from pyspark.sql import DataFrame

__all__ = ["Sink", "DirectorySink", "publish", "write_epoch", "start_sink"]


class Sink(Protocol):
    """Writes one epoch's rows.  ``write`` runs at most once per
    committed epoch when driven by ``write_epoch``."""

    def write(self, df: DataFrame, epoch_id: int) -> None: ...


def publish(frames: dict[str, DataFrame], mode: str = "append") -> None:
    """Write each DataFrame as parquet into its target directory: all
    are staged first, then moved in.

    ``append`` adds the staged part files that hold rows (an empty
    epoch adds no file to the target's listing); ``overwrite`` removes
    the target's old files and moves in every staged file, so an empty
    result still carries its schema.  When a write fails, the stages
    are removed; tasks of the failed job that are still running may
    leave a hidden stage behind."""
    staged = {t: os.path.join(t, f"_staging-{uuid.uuid4().hex}")
              for t in frames}
    try:
        for target, df in frames.items():
            df.write.parquet(staged[target])
    except BaseException:
        for stage in staged.values():
            shutil.rmtree(stage, ignore_errors=True)
        raise
    for target, stage in staged.items():
        parts = [f for f in os.listdir(stage) if f.startswith("part-")]
        if mode == "overwrite":
            for f in os.listdir(target):
                p = os.path.join(target, f)
                if p != stage:
                    (shutil.rmtree if os.path.isdir(p) else os.remove)(p)
        else:
            import pyarrow.parquet as pq

            parts = [f for f in parts
                     if pq.read_metadata(os.path.join(stage, f)).num_rows]
        for f in parts:
            for name in (f, f".{f}.crc"):
                src = os.path.join(stage, name)
                if os.path.exists(src):
                    os.rename(src, os.path.join(target, name))
        shutil.rmtree(stage)


class DirectorySink:
    """A parquet directory as a ``Sink`` whose contents each epoch
    replaces: the CLI ``run`` output, written as epoch 0, so a second
    run replaces the first."""

    def __init__(self, path: str):
        self.path = path

    def write(self, df: DataFrame, epoch_id: int) -> None:
        publish({self.path: df}, "overwrite")


def write_epoch(sink: Sink, df: DataFrame, epoch_id: int,
                checkpoint: str) -> None:
    """Write ``epoch_id`` through ``sink`` unless the query with this
    ``checkpoint`` already committed it; mark it committed after.  Only
    the latest marker is kept: Spark replays no epoch older than the
    last one it planned."""
    marks = os.path.join(checkpoint, "sink-epochs")
    if os.path.exists(os.path.join(marks, str(epoch_id))):
        return
    sink.write(df, epoch_id)
    os.makedirs(marks, exist_ok=True)
    open(os.path.join(marks, str(epoch_id)), "w").close()
    for f in os.listdir(marks):
        if int(f) < epoch_id:
            os.remove(os.path.join(marks, f))


def start_sink(sink: Sink, df: DataFrame, checkpoint: str):
    """Streaming DataFrame -> ``DataStreamWriter`` that writes each
    micro-batch through ``sink`` once (``write_epoch``)."""
    return (
        df.writeStream.foreachBatch(
            lambda batch, epoch_id: write_epoch(sink, batch, epoch_id,
                                                checkpoint))
        .option("checkpointLocation", checkpoint)
    )

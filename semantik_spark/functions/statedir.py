"""The one commit protocol for swapped state directories.

Mergeable state (bm25_state, the streaming sketch states, the
compacted dense_log) is published as a WHOLE directory: stage into
``dir__tmp``, rename ``dir`` to ``dir__old``, rename ``dir__tmp`` to
``dir``, drop ``dir__old``. Each rename is POSIX-atomic at the dir
entry, so at every crash point the complete state sits at ``dir`` or,
between the two renames only, at ``dir__old``:

  crash after staging        dir = old state (tmp is discarded on rerun)
  crash between the renames  dir missing, dir__old = old state
  crash before the rmtree    dir = new state, stale dir__old ignored

``read`` and ``last_batch`` resolve exactly that: ``dir`` first, then
``dir__old``. A ``_last_batch`` replay marker rides INSIDE the staged
directory (the underscore keeps it invisible to parquet readers), so
the publishing rename makes a state and its batch watermark visible
together. Structured Streaming replays a crashed batch under the SAME
batch_id, so a writer whose merge is not idempotent skips
``batch_id <= last_batch(dir)``.

Local-FS rename semantics; an object-store deployment would flip a
manifest pointer instead (the blue/green shape
operators/maintenance.BlueGreenIndex implements for a full index).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_last_batch"


def read(spark: SparkSession, d: str, sub: str = "") -> DataFrame | None:
    """Read ``d/sub`` with the ``d__old`` crash-window fallback.

    Returns None ONLY when neither location exists (a genuinely first
    batch). A read failure on an EXISTING state propagates: treating it
    as first-batch would silently reset the state to the latest delta."""
    base, old = (os.path.join(p, sub) if sub else p for p in (d, d + "__old"))
    if os.path.exists(base):
        try:
            return spark.read.parquet(base)
        except Exception:
            if os.path.exists(old):
                return spark.read.parquet(old)
            raise
    if os.path.exists(old):
        return spark.read.parquet(old)
    return None


def publish(d: str, write: Callable[[str], None],
            batch_id: int | None = None) -> None:
    """Atomically replace ``d`` with what ``write(staging_dir)`` writes.

    ``batch_id`` writes the ``_last_batch`` marker into the staging dir;
    without one, the current marker (if any) is carried over, so a
    non-streaming writer (exact rebuild, GDPR delete, compaction) keeps
    the stream's watermark."""
    tmp, old = d + "__tmp", d + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    marker = os.path.join(d, _MARKER)
    if batch_id is not None:
        with open(os.path.join(tmp, _MARKER), "w") as fh:
            fh.write(str(int(batch_id)))
    elif os.path.exists(marker):
        shutil.copy(marker, os.path.join(tmp, _MARKER))
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(d):
        os.rename(d, old)
    os.rename(tmp, d)
    shutil.rmtree(old, ignore_errors=True)


def last_batch(d: str) -> int | None:
    """The ``_last_batch`` replay marker of ``d`` (with the ``d__old``
    fallback), or None when no batch was ever published there."""
    for p in (d, d + "__old"):
        f = os.path.join(p, _MARKER)
        if os.path.exists(f):
            with open(f) as fh:
                return int(fh.read().strip())
    return None

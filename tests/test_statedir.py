"""Fault injection for the one state-commit protocol (functions/statedir).

``publish`` has three crash boundaries: after the staging write, after
rename(dir -> dir__old), and after rename(dir__tmp -> dir) but before
the __old cleanup. For each caller family — bm25_state (through
merge_sparse_append), a streaming sketch sink (streaming_count_min) and
compact_dense_log — a crash at each boundary must leave:

  * the reader returning the complete old or complete new state (never
    None, never corpus from one version and terms from the other);
  * ``last_batch`` agreeing with the state beside it;
  * a rerun converging to a clean run's output.
"""

from __future__ import annotations

import os

import pytest

from semantik_spark.functions import statedir

BOUNDARIES = ("staged", "between_renames", "before_cleanup")


def _rows(df):
    """Order-free, comparable snapshot of a DataFrame's rows."""
    def norm(v):
        return tuple(v) if isinstance(v, list) else v
    return sorted(tuple(norm(v) for v in r) for r in df.collect())


def _arm(monkeypatch, boundary: str, d: str) -> None:
    """Make the next publish of ``d`` die at ``boundary``."""
    real = os.rename
    tmp = d + "__tmp"

    def rename(src, dst, *a, **kw):
        src = os.fspath(src)
        if (boundary == "staged" and src == d) or \
                (boundary == "between_renames" and src == tmp):
            raise RuntimeError(f"simulated crash: {boundary}")
        real(src, dst, *a, **kw)
        if boundary == "before_cleanup" and src == tmp:
            raise RuntimeError(f"simulated crash: {boundary}")

    monkeypatch.setattr(statedir.os, "rename", rename)


class Bm25:
    """bm25_state published by merge_sparse_append (batch 7) over a
    build_sparse base."""

    def __init__(self, spark):
        self.spark = spark
        self.docs = spark.createDataFrame(
            [(i, f"alpha shared{i % 3} beta unique{i}") for i in range(12)],
            ["doc_id", "text"])

    def setup(self, root):
        from semantik_spark.operators import serving

        serving.build_sparse(self.docs.where("doc_id < 8"), root)
        return f"{root}/bm25_state"

    def write(self, root):
        from semantik_spark.operators import serving

        serving.merge_sparse_append(self.docs.where("doc_id >= 8"), root,
                                    batch_id=7)

    def state(self, root):
        d = f"{root}/bm25_state"
        parts = [statedir.read(self.spark, d, sub) for sub in ("corpus", "terms")]
        return None if None in parts else tuple(_rows(p) for p in parts)

    def outputs(self, root):
        return tuple(_rows(self.spark.read.parquet(f"{root}/{t}"))
                     for t in ("terms", "postings"))


class Sketch:
    """streaming_count_min: batch 0 published cleanly, batch 1 is the
    publish under test (additive state, so a double merge would show)."""

    def __init__(self, spark):
        self.spark = spark
        self.a = spark.createDataFrame([(f"k{i % 7}",) for i in range(30)], "k string")
        self.b = spark.createDataFrame([(f"k{i % 4}",) for i in range(20)], "k string")

    def _run(self, root):
        from semantik_spark.streaming.incremental import (
            stream_files, streaming_count_min,
        )

        q = streaming_count_min(
            stream_files(self.spark, f"{root}/drop", "k string", fmt="parquet",
                         max_files_per_trigger=1),
            f"{root}/state", f"{root}/ckpt", "k", depth=3, width=16)
        q.awaitTermination(120)

    def setup(self, root):
        from semantik_spark.streaming.incremental import append_drop_file

        self.a.coalesce(1).write.parquet(f"{root}/drop")
        self._run(root)
        append_drop_file(self.b, f"{root}/drop")
        return f"{root}/state"

    def write(self, root):
        self._run(root)

    def state(self, root):
        st = statedir.read(self.spark, f"{root}/state")
        return None if st is None else _rows(st)

    def outputs(self, root):
        return ()


class DenseLog:
    """compact_dense_log over a dense log with superseded versions."""

    def __init__(self, spark):
        self.spark = spark
        self.log = spark.createDataFrame(
            [(i % 5, [float(i), 1.0], i // 5) for i in range(15)],
            "doc_id bigint, embedding array<double>, _batch_id bigint")

    def setup(self, root):
        self.log.write.parquet(f"{root}/dense_log")
        return f"{root}/dense_log"

    def write(self, root):
        from semantik_spark.streaming.incremental import compact_dense_log

        compact_dense_log(self.spark, root)

    def state(self, root):
        st = statedir.read(self.spark, f"{root}/dense_log")
        return None if st is None else _rows(st)

    def outputs(self, root):
        return ()


FAMILIES = {"bm25_state": Bm25, "sketch": Sketch, "dense_log": DenseLog}


@pytest.fixture(scope="module")
def clean_runs():
    """family -> (state, marker, outputs) of an uncrashed run, filled
    by the first test of each family."""
    return {}


@pytest.mark.parametrize("boundary", BOUNDARIES)
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_publish_crash_at_every_boundary(spark, tmp_path, monkeypatch, clean_runs,
                                         family, boundary):
    fam = FAMILIES[family](spark)
    if family not in clean_runs:
        clean = str(tmp_path / "clean")
        d = fam.setup(clean)
        fam.write(clean)
        clean_runs[family] = (fam.state(clean), statedir.last_batch(d),
                              fam.outputs(clean))
    new_state, new_marker, new_outputs = clean_runs[family]

    root = str(tmp_path / "idx")
    d = fam.setup(root)
    old_state, old_marker = fam.state(root), statedir.last_batch(d)
    assert old_state is not None and old_state != new_state

    with monkeypatch.context() as m:
        _arm(m, boundary, d)
        with pytest.raises(Exception, match="simulated crash"):
            fam.write(root)

    # the reader sees one complete version: old until the publishing
    # rename, new from it on — and the marker beside it agrees
    got = fam.state(root)
    want = new_state if boundary == "before_cleanup" else old_state
    assert got == want
    assert statedir.last_batch(d) == (
        new_marker if boundary == "before_cleanup" else old_marker)

    # a rerun (the streaming replay / retried job) converges
    fam.write(root)
    assert fam.state(root) == new_state
    assert statedir.last_batch(d) == new_marker
    assert fam.outputs(root) == new_outputs

"""Adaptive parallelism for compute-heavy kernels over small scans.

A parquet table written as one file with one row group scans as ONE
task no matter how many cores the session has — and every narrow
operation downstream (explode, per-position hashing, parser kernels)
stays in that single task until the first exchange. For kernels whose
cost is dominated by per-row compute rather than bytes (CDC anchor
hashing, text parsing, per-character scans), that serializes the whole
operator on one core while the other N-1 idle.

``spread(df)`` hash-repartitions such an input up to the session's
default parallelism — but ONLY when the current plan has fewer
partitions than that, so at production scale (where the scan already
carries >= cores partitions) it is a provable no-op and never adds a
corpus-wide shuffle. The exchange it does add locally moves the small
input once (KB-MB) to unlock an N-way compute stage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def concurrently(*thunks, max_workers: int = 4) -> list:
    """Run independent Spark ACTIONS (writes, eager checkpoints) from a
    small driver thread pool and return their results in call order
    (guide §2.6, overlap independent jobs: actions are only sequential
    because driver code calls them sequentially; submitting independent
    ones together lets the next job's tasks back-fill executors freed by
    the current job's tail, and overlaps the per-job fixed costs —
    planning, file-commit, scheduling — that dominate the index
    build/maintenance paths, whose artifact writes move only KB-MB).

    ONLY for actions that are independent AND unordered-safe: different
    output paths, no read-what-another-writes, and no crash-ordering
    contract between them (a replay-marker commit point or an
    idempotence fence like tombstones-last must stay OUTSIDE the pool,
    sequenced after it). Exceptions propagate — after all threads
    finish, the first failing thunk's (in call order) error is
    re-raised, and every further failure is attached to it with
    ``add_note`` as ``"concurrently: thunk <i> also failed: <repr>"``,
    so no write is silently skipped and no error is lost. 2-4 in flight is plenty (guide §2.6); FIFO
    scheduling gives back-fill behaviour at any cluster scale, so this
    is placement-free — it changes WHEN jobs are submitted, never what
    any of them computes. No thunks → ``[]``.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        results, errs = [], []
        for i, f in enumerate(futures):
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 — collect, re-raise below
                errs.append((i, e))
                results.append(None)
        if errs:
            first = errs[0][1]
            for i, e in errs[1:]:
                first.add_note(f"concurrently: thunk {i} also failed: {e!r}")
            raise first
        return results


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its
    physical plan currently has fewer partitions. ``key_cols``: hash-
    partition on these columns (deterministic row placement under
    retries); without keys, round-robin (Spark's sort-before-repartition
    keeps that deterministic too).

    PRECONDITION (ADVICE r13): ``df`` must be a raw scan or a narrow
    select/filter over one — the partition probe accesses ``df.rdd``,
    and under AQE that materializes any shuffle/broadcast query stages
    in the plan at operator-CONSTRUCTION time (jobs run before the real
    action, and their work is redone by it). Callers holding a derived
    frame (cached, joined, aggregated) must not route it through
    spread(); they either spread the upstream scan instead or accept
    the input's parallelism (see pq_codebooks(spread_input=False))."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)

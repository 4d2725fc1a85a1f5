"""Structured Streaming incremental ingest + streaming window forms.

The reference's "continuous sync" is periodic re-enumeration with
content-hash change detection (Collection.sync_mode models.py:291-294,
executor.py:713-744). Spark expresses it as a file-source stream +
foreachBatch running the SAME batch pipeline (SURVEY §2.12) — one code
path for batch and streaming, checkpointed exactly-once sinks.

Streaming window twins of streaming/windows.py batch forms:
  tumbling_counts_stream — window() + watermark for late data
  session_windows_stream — session_window(ts, gap): the engine-native
                           stateful sessionization
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from semantik_spark.functions import statedir
from semantik_spark.functions.caching import checkpoint as _ckpt


def _run_batches(stream: DataFrame, process, checkpoint: str):
    """Start ``process(batch, batch_id)`` as a checkpointed
    foreachBatch query that drains what is available and stops — the
    one wiring every sink here uses. Returns the StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_files(spark: SparkSession, root: str, schema: str,
                 fmt: str = "json", max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a drop directory (Auto-Loader-style
    incremental batch: each trigger picks up newly arrived files)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(root)


def _detect_changes(spark: SparkSession, hashed: DataFrame,
                    catalog_path: str, id_col: str):
    """J4 change detection: ``hashed`` rows whose (id, content_hash) is
    not yet in the catalog, plus the catalog's (_old_id, _old_hash)
    projection (None on the first batch). The catalog is read through
    statedir.read, so ONLY a missing catalog counts as a first batch —
    an unreadable existing one fails the batch instead of re-appending
    every row as "changed"."""
    cat = statedir.read(spark, catalog_path)
    if cat is None:  # first batch: no catalog yet
        return hashed, None
    old = cat.select(
        F.col(id_col).alias("_old_id"), F.col("content_hash").alias("_old_hash")
    )
    # eqNullSafe: a NULL text (sha2 -> NULL hash) or NULL id must match
    # its own prior delivery — plain equality is NULL for those rows,
    # the anti-join keeps them forever, and every re-delivery
    # re-appends them
    changed = hashed.join(
        old,
        hashed[id_col].eqNullSafe(F.col("_old_id"))
        & F.col("content_hash").eqNullSafe(F.col("_old_hash")),
        "left_anti",
    )
    return changed, old


def incremental_ingest(stream: DataFrame, catalog_path: str, checkpoint: str,
                       transform: Callable[[DataFrame], DataFrame] | None = None,
                       id_col: str = "doc_id", text_col: str = "text"):
    """foreachBatch incremental ingest with change-detection (J4):
    each micro-batch anti-joins the persisted catalog on
    (id, content_hash) so unchanged re-deliveries are skipped, then
    appends the new/changed rows (+ optional transform) to the catalog.

    Returns the StreamingQuery (caller awaits/stops). Exactly-once via
    the checkpoint + idempotent append of hash-new rows.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        hashed = batch.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        changed, _ = _detect_changes(spark, hashed, catalog_path, id_col)
        if transform is not None:
            changed = transform(changed)
        changed.write.mode("append").parquet(catalog_path)

    return _run_batches(stream, process, checkpoint)


def streaming_dedup(stream: DataFrame, key_cols: list[str],
                    ts_col: str = "ts", watermark_minutes: int = 10) -> DataFrame:
    """Streaming exact dedup on ``key_cols`` (e.g. content_hash): the
    streaming twin of the batch dedup family. State is bounded by the
    watermark — duplicates arriving within the watermark horizon are
    dropped, older state is expired (dropDuplicatesWithinWatermark), so
    memory stays O(keys-per-horizon) instead of O(corpus) on an
    unbounded stream."""
    return stream.withWatermark(
        ts_col, f"{watermark_minutes} minutes"
    ).dropDuplicatesWithinWatermark(key_cols)


def tumbling_counts_stream(events: DataFrame, minutes: int = 5,
                           watermark_minutes: int = 10,
                           ts_col: str = "ts", key_col: str = "event_type") -> DataFrame:
    """Streaming tumbling windows with a watermark for late data —
    identical plan shape to windows.tumbling_counts, plus state expiry."""
    return (
        events.withWatermark(ts_col, f"{watermark_minutes} minutes")
        .groupBy(F.window(F.col(ts_col), f"{minutes} minutes").alias("w"), F.col(key_col))
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n", "sum_value")
    )


def session_windows_stream(events: DataFrame, gap_minutes: int = 30,
                           watermark_minutes: int = 60,
                           ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """Stateful gap sessionization via session_window — the streaming
    twin of windows.sessionize (same output contract minus session_id
    numbering, which requires total order and is a batch concept)."""
    return (
        events.withWatermark(ts_col, f"{watermark_minutes} minutes")
        .groupBy(F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("w"),
                 F.col(user_col))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def incremental_index(stream: DataFrame, idx_dir: str, catalog_path: str,
                      checkpoint: str, sparse_refresh: bool | str = True,
                      id_col: str = "doc_id", text_col: str = "text"):
    """Streaming index maintenance — the reference's "continuous sync"
    landing in the SERVING index, not just the catalog: each micro-batch
    change-detects (J4 hash anti-join), appends new/changed docs to the
    catalog, appends their embeddings to an append-only dense LOG
    (batch-stamped; read-time upsert via dense_latest — the standard
    log+compaction shape), and, because BM25 idf/avgdl are
    corpus-global, refreshes the sparse tables exactly by rebuilding
    terms/postings from the updated catalog.

    ``sparse_refresh`` modes:
      True     exact rebuild of terms/postings per batch (corpus pass)
      "merge"  APPEND path (r7, reference incremental-sync semantics
               bm25_sparse_indexer.py:545-591): delta-merge the
               mergeable (n_docs, sum_dl) / (term, df) state
               (serving.merge_sparse_append) — batch-sized work, no
               corpus scan; the terms table stays EXACT (merge ==
               recompute, test-pinned) while previously-written
               postings keep their index-time weights. A batch that
               UPDATES an existing doc id cannot delta-merge (the old
               version must be retracted), so it falls back to the
               exact rebuild for that batch.
      False    dense log only

    At 100 TB: the dense log append and the "merge" sparse path are
    per-changed-doc work; the exact sparse rebuild is the one
    full-corpus pass, so real deployments run "merge" per trigger and
    schedule the exact rebuild on a cadence (every Nth trigger /
    nightly) to re-level the stale old-doc weights — exactly the trade
    the reference's periodic re-sync makes. Returns the StreamingQuery.
    """
    from semantik_spark.functions.vectors import mock_embedding
    from semantik_spark.operators import serving

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        hashed = batch.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        changed, old = _detect_changes(spark, hashed, catalog_path, id_col)
        n_updates = 0
        if old is not None and sparse_refresh == "merge":
            # delta-merge is only exact for NEW doc ids; an update
            # (same id, different hash) needs the old version
            # retracted → exact rebuild for that batch
            n_updates = changed.join(
                old.select(F.col("_old_id").alias(id_col)).distinct(),
                id_col, "left_semi").count()
        changed = _ckpt(changed.withColumn(
            "_batch_id", F.lit(batch_id).cast("bigint")
        ))  # one evaluation, three sinks
        # SINK ORDER: the catalog append is the batch's idempotence
        # fence (the change-detection anti-join keys on it), so it
        # commits LAST. A crash before it means the replay re-detects
        # the same docs and redoes the index sinks — the dense log
        # tolerates duplicate (doc, _batch_id) rows (dense_latest picks
        # one identical row), the exact sparse rebuild is idempotent,
        # and the merge path skips replayed batch ids via the state's
        # _last_batch marker. Previously the catalog committed FIRST:
        # a crash after it silently dropped the batch from the index
        # forever (the replay's anti-join matched everything).
        changed.select(
            F.col(id_col).alias("doc_id"),
            mock_embedding(text_col).alias("embedding"),
            "_batch_id",
        ).write.mode("append").parquet(f"{idx_dir}/dense_log")
        if sparse_refresh == "merge" and n_updates == 0:
            # APPEND path: batch-sized stats delta-merge, no corpus
            # scan; batch_id makes a checkpoint replay a no-op
            serving.merge_sparse_append(changed, idx_dir,
                                        id_col=id_col, text_col=text_col,
                                        batch_id=batch_id)
        elif sparse_refresh:
            from pyspark.sql import Window

            # the catalog is an append log (batch-stamped): resolve to
            # the newest version per doc — INCLUDING this batch, which
            # is not in the catalog yet — before the exact rebuild
            catalog = statedir.read(spark, catalog_path)
            catalog = changed if catalog is None else \
                catalog.unionByName(changed, allowMissingColumns=True)
            w = Window.partitionBy(id_col).orderBy(F.desc("_batch_id"))
            latest = (
                catalog.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn")
            )
            serving.build_sparse(latest, idx_dir, id_col=id_col, text_col=text_col)
        changed.write.mode("append").parquet(catalog_path)

    return _run_batches(stream, process, checkpoint)


def dense_latest(spark: SparkSession, idx_dir: str) -> DataFrame:
    """Resolve the append-only dense log to its current state: the
    newest (_batch_id) row per doc_id — read-time upsert, compacted by
    maintenance jobs when the log grows."""
    from pyspark.sql import Window

    log = spark.read.parquet(f"{idx_dir}/dense_log")
    w = Window.partitionBy("doc_id").orderBy(F.desc("_batch_id"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "embedding")
    )


def compact_dense_log(spark: SparkSession, idx_dir: str) -> dict:
    """Maintenance compaction for the append-only dense log: collapse
    every doc to its newest (_batch_id) version and atomically swap the
    compacted segment in, so read-time upsert cost (dense_latest's
    window) returns to O(live docs) after heavy churn.

    The swap is functions/statedir.publish, and the log is read through
    statedir.read, so a rerun after a crash between the two publish
    renames compacts the fallback copy. Appends that land between the
    snapshot read and the swap are the same race every log+compact
    store has; schedule compaction from the single writer (the
    foreachBatch loop is serialized per stream, so triggering it every
    Nth batch is safe).

    Returns {"rows_before", "rows_after", "batches_merged"}.
    """
    from pyspark.sql import Window

    log_dir = f"{idx_dir}/dense_log"
    log = statedir.read(spark, log_dir)
    stats = log.agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("nd"),
        F.count_distinct("_batch_id").alias("nb"),
    ).collect()[0]
    w = Window.partitionBy("doc_id").orderBy(F.desc("_batch_id"))
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    statedir.publish(log_dir, lambda tmp: latest.write.mode("overwrite").parquet(tmp))
    return {
        "rows_before": int(stats["n"]),
        "rows_after": int(stats["nd"]),
        "batches_merged": int(stats["nb"]),
    }


def dense_as_of(spark: SparkSession, idx_dir: str, batch_id: int) -> DataFrame:
    """Time travel over the append-only dense log: the index state as
    of ``batch_id`` (inclusive) — newest version per doc among rows
    with ``_batch_id <= batch_id``. Because the log is append-only and
    batch-stamped, every historical serving state stays reproducible
    until compaction collapses versions (compact_dense_log keeps only
    the newest; run it with a retention floor if as-of queries must
    reach further back). One pushed-down range filter + the same
    per-doc window as dense_latest."""
    from pyspark.sql import Window

    log = spark.read.parquet(f"{idx_dir}/dense_log").where(
        F.col("_batch_id") <= batch_id
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_batch_id"))
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "embedding")
    )


def _merge_sink(stream: DataFrame, state_path: str, checkpoint: str,
                step: Callable[[DataFrame, DataFrame | None], DataFrame]):
    """The one driver of the mergeable-state sinks: per micro-batch,
    skip a replayed batch id (``batch_id <= statedir.last_batch``:
    Structured Streaming replays a crashed batch under the SAME id, and
    an additive merge would double-add it), read the state (None on the
    first batch), ``step(batch, old_or_None)`` → the new state, and
    publish it with the batch's marker through statedir.publish — the
    batch's single commit point. Returns the StreamingQuery."""

    def process(batch: DataFrame, batch_id: int) -> None:
        last = statedir.last_batch(state_path)
        if last is not None and batch_id <= last:
            return  # checkpoint replay of an already-merged batch
        new = step(batch, statedir.read(batch.sparkSession, state_path))
        statedir.publish(state_path,
                         lambda tmp: new.write.mode("overwrite").parquet(tmp),
                         batch_id)

    return _run_batches(stream, process, checkpoint)


def _add_counts(old: DataFrame, partial: DataFrame, *keys: str) -> DataFrame:
    """Cell-wise count addition of a batch partial into a state — the
    merge of every additive (keys..., n bigint) sketch here."""
    return (
        old.unionByName(partial)
        .groupBy(*keys)
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def _served_state(spark: SparkSession, state_path: str) -> DataFrame:
    """statedir.read for every *_from_state server: the same
    crash-window fallback the writers use — a crash between the two
    publish renames must not black out serving until the next
    micro-batch happens to run — and a genuinely missing state raises
    a clear error instead of an opaque parquet exception."""
    st = statedir.read(spark, state_path)
    if st is None:
        raise FileNotFoundError(
            f"no sketch state at {state_path} (nor its crash-window "
            f"fallback) — run the corresponding streaming sink first")
    return st


def streaming_kmv(stream: DataFrame, state_path: str, checkpoint: str,
                  group_col: str, value_col: str, k: int = 64):
    """Streaming distinct-count sketching: each micro-batch's KMV
    partial (k smallest distinct hash values per group) is merged into
    a tiny persisted state table — union, re-deduplicate, re-truncate
    to k — and the state after N batches is EXACTLY the sketch a batch
    job would compute over all N batches' rows (the k-smallest-union
    property; asserted in tests/test_streaming.py). This is the
    sketch-as-state pattern HLL pipelines use, with KMV's advantage
    that the state is plain sorted doubles any engine can verify.

    State is one parquet table (group, us array<double>) of at most
    k doubles per group — driver-trivial at any corpus scale; it is
    published through functions/statedir (the _merge_sink driver every
    sketch sink here shares). Returns the StreamingQuery.
    """
    from pyspark.sql import Window

    from semantik_spark.functions.hashing import hash60

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        u = (hash60(F.col(value_col)) + F.lit(1)) / F.lit(float(2**60))
        # k smallest per group via distinct + rank window, NOT
        # collect_set: collect_set materializes EVERY distinct hash of
        # a group in one executor array before the slice — unbounded
        # per-group memory on a high-cardinality batch; the window
        # keeps only k rows per group past the exchange and the final
        # collect_list is k-bounded by construction
        # NULL values hash to NULL u — order them LAST in the window
        # (plain ascending order is NULLS FIRST in Spark, which would
        # hand a NULL rank 1 in every group, stealing a k-slot from a
        # real hash). NULL rows are kept through the groupBy rather
        # than filtered before it so a group whose batch values are
        # ALL NULL still emits an empty-sketch state row (collect_list
        # skips NULLs → us = []), served as n_sketch=0 / estimate 0 —
        # the original collect_set contract; filtering pre-groupBy
        # made such groups vanish from kmv_state_estimates entirely
        d = batch.select(F.col(group_col).alias("g"), u.alias("u")).distinct()
        wk = Window.partitionBy("g").orderBy(F.asc_nulls_last("u"))
        partial = (
            d.withColumn("_rn", F.row_number().over(wk))
            .where(F.col("_rn") <= k)
            .groupBy("g")
            .agg(F.array_sort(F.collect_list("u")).alias("us"))
        )
        if old is None:
            return partial
        return (
            old.unionByName(partial)
            .groupBy("g")
            .agg(
                F.slice(
                    F.array_sort(F.array_distinct(F.flatten(F.collect_list("us")))),
                    1, k,
                ).alias("us")
            )
        )

    return _merge_sink(stream, state_path, checkpoint, step)


def kmv_state_estimates(spark: SparkSession, state_path: str, k: int = 64) -> DataFrame:
    """Read the streaming KMV state into (group, n_sketch,
    kmv_estimate) — the serving view of streaming_kmv."""
    st = _served_state(spark, state_path)
    n_sketch = F.size("us")
    est = F.when(n_sketch < k, n_sketch.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.array_max("us")
    )
    return st.select(
        F.col("g").alias("group"),
        n_sketch.cast("int").alias("n_sketch"),
        F.round(est, 6).alias("kmv_estimate"),
    )


def streaming_ddsketch(stream: DataFrame, state_path: str, checkpoint: str,
                       group_col: str, value_col: str, alpha: float = 0.02,
                       max_buckets: int | None = None):
    """Streaming quantile sketching: each micro-batch's DDSketch bucket
    counts merge into a persisted state table by ADDING counts — the
    sketch's merge algebra — so the state after N batches EXACTLY
    equals the batch sketch over all N batches' rows (asserted in
    tests/test_streaming.py), and quantiles served from the state carry
    the same alpha relative-error guarantee as a full recompute.

    State is one parquet table (g, bucket, n) of ~log(range)/alpha rows
    per group regardless of stream volume; pass ``max_buckets`` to make
    that a HARD per-group bound via the paper's collapse-lowest-buckets
    variant (sketches.ddsketch_collapse) re-applied after every merge —
    a pathological value range then degrades low-tail quantiles instead
    of growing state. Published through functions/statedir by the
    shared _merge_sink driver.
    """
    from semantik_spark.operators.sketches import ddsketch_buckets, ddsketch_collapse

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        merged = ddsketch_buckets(batch, group_col, value_col, alpha)
        if old is not None:
            merged = _add_counts(old, merged, "g", "bucket")
        if max_buckets is not None:
            merged = ddsketch_collapse(merged, max_buckets)
        return merged

    return _merge_sink(stream, state_path, checkpoint, step)


def ddsketch_state_quantiles(spark: SparkSession, state_path: str,
                             alpha: float = 0.02,
                             quantiles: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """Serve quantiles from the streaming DDSketch state — the serving
    view of streaming_ddsketch (quantile extraction runs on sketch rows
    only, as in the batch operator)."""
    from semantik_spark.operators.sketches import ddsketch_quantiles

    st = _served_state(spark, state_path)
    return ddsketch_quantiles(None, "g", "v", alpha=alpha,
                              quantiles=quantiles, buckets=st)


def streaming_heavy_hitters(stream: DataFrame, state_path: str, checkpoint: str,
                            key_col: str, m: int = 50):
    """Streaming heavy-hitter sketching — the third mergeable-sketch
    state operator (pattern of streaming_kmv / streaming_ddsketch):
    each micro-batch's Misra-Gries(m) summary (frequency.mg_summarize)
    merges into a persisted ≤ m-row state by count addition + the
    PODS'12 trim (frequency.mg_merge), so the state after N batches is
    a valid MG(m) summary of ALL batches' rows — its key set provably
    contains every key exceeding total/m, for any batch split (asserted
    merge≡guarantee in tests/test_streaming.py).

    State is one parquet table (k string, c bigint): ≤ m-1 counter rows
    plus one k-IS-NULL row whose c accumulates the total non-null row
    count N (NULL keys are excluded from counting, so NULL is free to
    carry the scalar; a separate meta file would break the single
    atomic swap). Serve exact answers with heavy_hitters_from_state.
    """
    from semantik_spark.operators.frequency import mg_merge, mg_summarize

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        keys = batch.select(F.col(key_col).cast("string").alias("k")).where(
            F.col("k").isNotNull()
        )
        n_batch = keys.count()
        partial = mg_summarize(batch, key_col, m)
        if old is not None:
            old_n = old.where(F.col("k").isNull())
            merged = mg_merge(
                old.where(F.col("k").isNotNull()).unionByName(partial), m
            )
            total = old_n.select(
                (F.coalesce(F.first("c"), F.lit(0)) + n_batch).alias("c")
            )
        else:
            merged = partial
            total = batch.sparkSession.range(1).select(
                F.lit(n_batch).cast("bigint").alias("c"))
        return merged.unionByName(
            total.select(F.lit(None).cast("string").alias("k"), "c")
        )

    return _merge_sink(stream, state_path, checkpoint, step)


def heavy_hitters_from_state(spark: SparkSession, state_path: str,
                             source: DataFrame, key_col: str,
                             m: int = 50) -> DataFrame:
    """Serve exact heavy hitters from the streaming MG state: the state
    candidates are a guaranteed superset of every key with
    count*m > N, so one exact recount restricted to them (broadcast
    semi-join over `source`, the same rows the stream delivered) makes
    the output EXACTLY equal to batch heavy_hitters over the full data
    — the approximate-candidates + exact-verify pattern, now with the
    candidate set maintained incrementally instead of recomputed."""
    from semantik_spark.operators.frequency import heavy_hitters_exact

    st = _served_state(spark, state_path)
    total = st.where(F.col("k").isNull()).select("c").collect()[0]["c"]
    cand = st.where(F.col("k").isNotNull())
    return heavy_hitters_exact(source, key_col, cand, total, m)


def merge_counters(state: DataFrame, delta: DataFrame,
                   keys: list[str] | None = None) -> DataFrame:
    """Incremental-view-maintenance merge: combine a materialized
    counter state (keys, n, sum_value) with a freshly-aggregated delta
    into the counters a full recompute would produce — the algebra the
    foreachBatch counter paths rely on, exposed as a batch operator so
    an oracle can verify merged == recomputed on real data.

    count/sum (and any commutative monoid) merge by addition over the
    key-aligned full outer join; avg/ratios must be derived AFTER the
    merge from the merged sums. sum_value is an exact DECIMAL(38,8)
    (per-row 8 dp quantization, then exact integer arithmetic), so
    merged == recomputed holds BIT-exactly — a double sum would differ
    from the recompute by summation order. At 100 TB the state side is the small,
    already-reduced table (|keys| rows) and the delta aggregation is
    the only corpus-scale job — this is why IVM beats recompute: the
    big side only ever sees the new partition.
    """
    keys = keys or ["event_type", "day"]
    zero = F.lit(0).cast("bigint")
    # eqNullSafe key alignment: groupBy puts NULL keys in one group,
    # but a null-UNSAFE full_outer join would never align the state
    # and delta rows for that group — each merge would then DUPLICATE
    # the NULL-key row instead of adding it, breaking the IVM
    # "merge == recompute" invariant (empirically: 3 + 2 became two
    # rows, not 5). Keys coalesce from whichever side is present.
    cond = None
    for k in keys:
        c = state[k].eqNullSafe(delta[k])
        cond = c if cond is None else (cond & c)
    return (
        state.join(delta, cond, "full_outer")
        .select(
            *[F.coalesce(state[k], delta[k]).alias(k) for k in keys],
            (F.coalesce(state["n"], zero) + F.coalesce(delta["n"], zero)).alias("n"),
            (F.coalesce(state["sum_value"], F.lit(0).cast("decimal(38,8)"))
             + F.coalesce(delta["sum_value"], F.lit(0).cast("decimal(38,8)"))
             ).cast("decimal(38,8)").alias("sum_value"),
        )
    )


def daily_counters(events: DataFrame, type_col: str = "event_type",
                   ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """(event_type, day, n, sum_value) — the counter shape merge_counters
    maintains. One groupBy with map-side partials."""
    return (
        events.select(
            F.col(type_col).alias("event_type"),
            F.to_date(ts_col).cast("string").alias("day"),
            F.col(value_col).alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(28,8)")).cast("decimal(38,8)").alias("sum_value"),
        )
    )


def streaming_count_min(stream: DataFrame, state_path: str, checkpoint: str,
                        key_col: str, depth: int = 4, width: int = 256):
    """Streaming Count-Min sketching — the fourth mergeable-sketch
    state operator (streaming_kmv / streaming_ddsketch /
    streaming_heavy_hitters): each micro-batch's depth x width cell
    table (frequency.count_min_cells) merges into the persisted state
    by CELL-WISE COUNT ADDITION, the sketch's native merge (Agarwal et
    al., PODS 2012), so the state after N batches is bit-identical to
    count_min_cells over all batches' rows — for any batch split
    (asserted merge==batch in tests/test_streaming.py).

    State is one parquet table (row int, bucket int, n bigint),
    <= depth*width rows forever — constant-size streaming frequency
    state, served point-lookups via count_min_state_estimates."""
    from semantik_spark.operators.frequency import count_min_cells

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        partial = count_min_cells(batch, key_col, depth, width)
        return partial if old is None else _add_counts(old, partial, "row", "bucket")

    return _merge_sink(stream, state_path, checkpoint, step)


def count_min_state_estimates(spark: SparkSession, state_path: str,
                              probes: DataFrame, key_col: str,
                              depth: int = 4, width: int = 256) -> DataFrame:
    """Serve point-frequency estimates from a streaming_count_min
    state: (key_col, cm_estimate), the broadcast map-only lookup of
    frequency.count_min_estimate against the persisted cells."""
    from semantik_spark.operators.frequency import count_min_estimate

    cells = _served_state(spark, state_path)
    return count_min_estimate(cells, probes, key_col, depth, width)


def streaming_lsh_dedup(stream: DataFrame, state_path: str, checkpoint: str,
                        matches_path: str, num_hashes: int = 16,
                        bands: int = 4, n: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text"):
    """Near-duplicate detection AT INGESTION TIME: each micro-batch's
    MinHash signatures are banded and joined against the persisted
    signature state (all previously ingested docs), so a new document
    is flagged against the WHOLE history without ever re-reading it —
    the streaming form of dedup.minhash_lsh_pairs, and the operator the
    reference's re-enumeration sync (models.py:291-294) would need at
    scale.

    Per batch: (1) signatures + band keys for the batch (one map pass,
    dedup._minhash_wide); (2) candidates = batch x state band-bucket
    join UNION batch-internal self-join — together these cover every
    pair exactly once for ANY batch split, so the accumulated match
    table equals the one-shot batch LSH over all rows (asserted in
    tests/test_streaming.py); (3) signature-estimated Jaccard =
    matching-component fraction (the true text never persists — state
    is num_hashes BIGINTs per doc, the privacy/size win of
    signature-only state) filtered at ``threshold``; (4) batch
    signatures APPEND to the state, matches APPEND to the match log.

    Appends are at-least-once under foreachBatch replay — readers take
    DISTINCT (lsh_matches); est_jaccard is a deterministic function of
    the pair so duplicates collapse exactly.

    Scale: state grows one row-set per doc (num_hashes longs + bands
    keys), partitioned parquet appends; the per-batch join touches only
    band buckets the batch's keys hit — at 100 TB the state table is
    bucketed BY band_key so the probe is a bucket-pruned join, never a
    full-state scan. Hot boilerplate buckets take the same salted path
    as the batch operator when wired with banded_candidates.
    """
    from semantik_spark.operators.dedup import _minhash_wide, shingle_arrays

    rows_per_band = num_hashes // bands

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # a micro-batch is typically ONE small drop file -> ONE input
        # partition, which serializes the md5-per-shingle minhash fold
        # onto a single core (measured 4x the whole query's budget at
        # bench SF). Spread the batch across the session's shuffle
        # width before the compute-bound pass; the shuffled payload is
        # just (doc_id, text), a few MB per batch.
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        arr = shingle_arrays(batch.repartition(width), n, id_col,
                             text_col).where(F.size("harr") > 0)
        wide = _minhash_wide(arr, num_hashes)
        sig = F.array(*[F.col(f"mh{i}") for i in range(num_hashes)])
        banded = wide.select(
            "doc_id", sig.alias("sig"),
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(",", *[
                        F.col(f"mh{b * rows_per_band + j}")
                        for j in range(rows_per_band)
                    ]).alias("band_key"),
                )
                for b in range(bands)
            ])).alias("bk"),
        ).select("doc_id", "sig", "bk.band", "bk.band_key")
        # one compute for 3 uses (self-join sides + state append)
        banded = _ckpt(banded)

        a, b = banded.alias("a"), banded.alias("b")
        in_batch = (
            a.join(b, ["band", "band_key"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sig").alias("sa"), F.col("b.sig").alias("sb"))
        )
        cands = in_batch
        old = statedir.read(spark, state_path)
        if old is not None:
            o = old.alias("o")
            first_is_new = F.col("a.doc_id") < F.col("o.doc_id")
            cross = (
                a.join(o, ["band", "band_key"])
                .where(F.col("a.doc_id") != F.col("o.doc_id"))
                .select(
                    F.least("a.doc_id", "o.doc_id").alias("doc_a"),
                    F.greatest("a.doc_id", "o.doc_id").alias("doc_b"),
                    F.when(first_is_new, F.col("a.sig"))
                    .otherwise(F.col("o.sig")).alias("sa"),
                    F.when(first_is_new, F.col("o.sig"))
                    .otherwise(F.col("a.sig")).alias("sb"),
                )
            )
            cands = cands.unionByName(cross)
        est = F.round(
            F.size(F.filter(
                F.zip_with("sa", "sb", lambda x, y: x == y), lambda t: t
            )).cast("double") / num_hashes, 6,
        )
        # no per-batch groupBy: a pair hit through multiple bands writes
        # one row per band, but est_jaccard is a deterministic function
        # of the pair, so the reader's DISTINCT (lsh_matches) collapses
        # them exactly — same contract already relied on for
        # at-least-once replays. Dropping the aggregation removes one
        # shuffle exchange per micro-batch, which at ingestion-stream
        # batch sizes is pure fixed cost (VERDICT r7 item 3).
        matches = (
            cands.withColumn("est_jaccard", est)
            .where(F.col("est_jaccard") >= threshold)
            .select("doc_a", "doc_b", "est_jaccard")
        )
        matches.write.mode("append").parquet(matches_path)
        banded.write.mode("append").parquet(state_path)

    return _run_batches(stream, process, checkpoint)


def lsh_matches(spark: SparkSession, matches_path: str) -> DataFrame:
    """Read the accumulated near-dup match log (doc_a, doc_b,
    est_jaccard), DISTINCT to collapse at-least-once replays."""
    return spark.read.parquet(matches_path).distinct()


def stream_interval_join(left: DataFrame, right: DataFrame, out_path: str,
                         checkpoint: str, key: str = "user_id",
                         max_lag_minutes: int = 1440,
                         watermark_minutes: int = 5760,
                         join_type: str = "inner"):
    """NATIVE stream-stream inner interval join — the missing half of
    the streaming family (everything else here is aggregation or
    foreachBatch dedup): two unbounded sources joined on an equality
    key plus a time-interval condition, with watermarks on BOTH sides
    so Spark's state store evicts rows that can no longer match
    (SS join state cleanup, SPARK-24730 semantics). The reference's
    continuous sync would need exactly this to correlate two live
    feeds (e.g. content updates x access events) without rebatching.

    Join semantics: left row L matches right row R when
    ``L.key = R.key AND L.ts BETWEEN R.ts - max_lag_minutes AND R.ts``
    — "every left event that PRECEDES the right event by at most the
    lag window", the attribution shape (click -> purchase).

    Output (append sink, exactly-once via checkpoint): (key, left_id,
    right_id, l_ts, r_ts, lag_us). Inner joins emit eagerly on match —
    no watermark wait for output, only for state eviction.

    Scale: state per side is bounded by (arrival disorder +
    watermark_minutes + max_lag_minutes) of data, NOT the stream
    history — the interval condition gives Spark an eviction predicate
    for both sides (left rows older than watermark - lag, right rows
    older than watermark). Both sides shuffle on the key once into the
    join state store; at 1000 executors that is the same hash exchange
    a batch join would do, amortized over micro-batches. Completeness
    contract: rows later than ``watermark_minutes`` can be dropped —
    callers feeding time-ordered batches (the drop-dir pattern with
    range-partitioned files) get exact batch-equality, asserted in
    tests/test_streaming.py and the dedicated oracle entry.

    ``join_type="left_outer"``: left rows that never match emit
    NULL-padded ONCE the watermark proves no future right row can
    still join them — so unlike the eager inner matches, outer output
    waits on watermark passage. A bounded replay must therefore end
    with a watermark-advancing event past the horizon (see
    append_drop_file: a far-future sentinel on BOTH sides flushes the
    state store's unmatched tail); an unbounded production stream
    advances naturally.
    """
    l = left.select(
        F.col(key).alias("key"),
        F.col("event_id").alias("left_id"), F.col("ts").alias("l_ts"),
    ).withWatermark("l_ts", f"{watermark_minutes} minutes")
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("event_id").alias("right_id"), F.col("ts").alias("r_ts"),
    ).withWatermark("r_ts", f"{watermark_minutes} minutes")
    joined = (
        l.join(
            r,
            F.expr(
                f"key = r_key AND l_ts BETWEEN "
                f"r_ts - INTERVAL {max_lag_minutes} MINUTES AND r_ts"
            ),
            join_type,
        )
        .select(
            "key", "left_id", "right_id", "l_ts", "r_ts",
            (F.unix_micros("r_ts") - F.unix_micros("l_ts"))
            .cast("bigint").alias("lag_us"),
        )
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def append_drop_file(df: DataFrame, path: str) -> None:
    """Append ``df`` as one more drop file with the NEWEST mtime, so a
    maxFilesPerTrigger=1 stream picks it up as the final micro-batch.
    Primary use: a far-future watermark-advancing sentinel row that
    flushes outer-join / aggregation state at the end of a bounded
    replay (production streams advance their watermark naturally; a
    finite drop dir needs the nudge)."""
    import os
    import time

    before = set(os.listdir(path))
    df.coalesce(1).write.mode("append").parquet(path)
    newest = time.time() + 2
    for name in os.listdir(path):
        if name not in before and name.startswith("part-"):
            os.utime(os.path.join(path, name), (newest, newest))


def write_time_ordered_drop(df: DataFrame, path: str, ts_col: str = "ts",
                            n_files: int = 4) -> None:
    """Write ``df`` as ``n_files`` range-partitioned parquet files whose
    FILE ORDER (mtime, then name) matches ascending event time, so a
    maxFilesPerTrigger=1 stream replays the data as time-ordered
    micro-batches — between-batch lateness is zero and a finite
    watermark drops nothing. The local-test stand-in for a source that
    is naturally near-ordered (Kafka, CDC logs)."""
    import os
    import time

    df.repartitionByRange(n_files, F.col(ts_col)).write.parquet(path)
    parts = sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    base = time.time() - len(parts)
    for i, name in enumerate(parts):
        os.utime(os.path.join(path, name), (base + i, base + i))


def streaming_scd2(stream: DataFrame, state_path: str, checkpoint: str,
                   key_col: str, attr_cols: list[str],
                   ts_col: str, seq_col: str):
    """SCD2 dimension maintenance as a STREAM: each micro-batch of
    update rows folds into the persisted version history via
    scd.scd2_merge (history re-enters the collapse as synthetic
    updates; merge == full-log rebuild for any batch split under the
    append-only timestamp contract — the batch invariant, now held
    per trigger). State = the history table itself, published through
    functions/statedir by the _merge_sink driver every sketch stream
    here uses.

    This is the reference's continuous sync landing in a VERSIONED
    dimension instead of a latest-only catalog: consumers get as-of
    queries (scd.scd2_as_of) over a table that is never more than one
    trigger stale.

    Scale: per trigger one shuffle on the dimension key over
    |history| + |batch| rows — history is version-chains, bounded by
    change volume, not event volume; no joins, no iteration.
    """
    from semantik_spark.operators import scd

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        if old is None:
            return scd.scd2_history(batch, key_col, attr_cols, ts_col, seq_col)
        return scd.scd2_merge(old, batch, key_col, attr_cols, ts_col, seq_col)

    return _merge_sink(stream, state_path, checkpoint, step)


def streaming_hll(stream: DataFrame, state_path: str, checkpoint: str,
                  group_col: str, value_col: str, p: int = 8):
    """Streaming HyperLogLog: each micro-batch's register table merges
    into the persisted state by register-wise MAX — HLL's lattice-join
    algebra (idempotent + commutative + associative), so the state
    after N batches EXACTLY equals the batch sketch over all rows for
    ANY split, re-delivery included (max is idempotent — this sketch
    absorbs at-least-once delivery for free, which the additive
    Count-Min/DDSketch states cannot). Asserted in
    tests/test_streaming.py; the driver oracle replays the batch
    registers.

    State is one parquet table (g, j, mj) of at most 2^p rows per
    group regardless of stream volume. Published through
    functions/statedir by the shared _merge_sink driver.
    """
    from semantik_spark.operators.sketches import (hll_merge_registers,
                                                   hll_registers)

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        partial = hll_registers(batch, group_col, value_col, p)
        return partial if old is None else hll_merge_registers(old, partial)

    return _merge_sink(stream, state_path, checkpoint, step)


def hll_state_estimates(spark: SparkSession, state_path: str,
                        group_col: str = "group", p: int = 8) -> DataFrame:
    """Serve distinct-count estimates from the streaming HLL state —
    (group, v_zero, sum_scaled, estimate_milli), identical to the
    batch hll_estimate over the same rows."""
    from semantik_spark.operators.sketches import hll_estimate

    return hll_estimate(_served_state(spark, state_path),
                        exact=None, group_col=group_col, p=p)


def ddsketch_state_ks(spark: SparkSession, state_path: str,
                      group_a: str, group_b: str) -> DataFrame:
    """Serve the two-sample KS verdict from the streaming DDSketch
    state — the distribution-shift monitor as an INCREMENTAL service
    (VERDICT r9 item 5 composed with the streaming family): the state
    after N micro-batches exactly equals the batch sketch over all
    rows (streaming_ddsketch's merge algebra), so
    stattests.ks_from_value_counts over the persisted bucket table
    hash-matches the batch sketch fold — and stays within the pinned
    tolerance of the exact test (stat_tests_from_sketch). Bucket
    indices are monotone in the value, which is all the CDF fold
    needs. Runs on sketch rows only; the stream is never rescanned."""
    from semantik_spark.operators.stattests import ks_from_value_counts

    st = _served_state(spark, state_path)
    vl = (
        st.where(F.col("g").isin([group_a, group_b]))
        .groupBy(F.col("bucket").alias("v"))
        .agg(F.sum(F.when(F.col("g") == group_a, F.col("n")).otherwise(0))
             .cast("bigint").alias("na"),
             F.sum(F.when(F.col("g") == group_b, F.col("n")).otherwise(0))
             .cast("bigint").alias("nb"))
    )
    return ks_from_value_counts(vl, group_a, group_b)


def ddsketch_state_bf(spark: SparkSession, state_path: str,
                      alpha: float = 0.02) -> DataFrame:
    """Serve the Brown-Forsythe equality-of-variances verdict from the
    streaming DDSketch state — the third member of the incremental
    stat-serve family (ddsketch_state_ks, contingency_chi_square):
    bucket indices decode to their REPRESENTATIVE values
    (2·gamma^i/(gamma+1), the alpha-relative-error midpoint; the
    reserved non-positive bucket maps to 0.0) and
    stattests.bf_from_value_counts folds the BF moments over the
    ~log(range)/alpha bucket rows per group. Unlike KS — whose CDF
    fold needs only the monotone bucket ORDER — BF needs value
    magnitudes, which is exactly what the decode supplies; accuracy
    carries the stat_bf_from_sketch pins (medians/mads within the
    alpha guarantee, F within 5% at the tested scales). ``alpha``
    must match the value streaming_ddsketch ran with (it fixes the
    decode gamma). Runs on sketch rows only; the stream is never
    rescanned."""
    from semantik_spark.operators.sketches import ddsketch_params
    from semantik_spark.operators.stattests import bf_from_value_counts

    _, inv_lg, coeff = ddsketch_params(alpha)
    lg = 1.0 / inv_lg
    st = _served_state(spark, state_path)
    rep = F.when(F.col("bucket") == -(2 ** 31), F.lit(0.0)).otherwise(
        F.round(F.lit(coeff)
                * F.exp(F.col("bucket").cast("double") * F.lit(lg)), 9))
    vl = (
        st.groupBy(F.col("g").cast("string").alias("g"), rep.alias("v"))
        .agg(F.sum("n").cast("bigint").alias("c"))
    )
    return bf_from_value_counts(vl)


def ddsketch_state_psi(spark: SparkSession, state_path: str,
                       group_a: str, group_b: str,
                       threshold_milli: int = 200) -> DataFrame:
    """Population Stability Index between two cohorts' value
    distributions, served from the streaming DDSketch state — the
    banded-drift member of the incremental stat-serve family
    (ddsketch_state_ks gives the sup-CDF shape verdict, _bf the
    variance verdict; PSI gives the model-monitoring mass score with
    its standard bands: <0.1 stable, 0.1–0.25 watch, >0.25 shifted).

    Bins are the sketch's own log-buckets — the UNION of buckets the
    state observed for either cohort (C = that count, deterministic
    from the state); shares are +1-smoothed so one-sided buckets are
    defined; terms round to 6 dp into DECIMAL before the sum
    (corpus_drift_psi's exact discipline, pointed at sketch state).
    ``threshold_milli``/1000 is the 'shifted' trigger, the
    ivf_assignment_drift convention.

    Output: one row per union bucket — bucket, n_a, n_b, psi_term,
    psi_total (repeated), shifted. Runs on ~log(range)/alpha sketch
    rows only; the stream is never rescanned."""
    from pyspark.sql import Window

    st = _served_state(spark, state_path)
    j = (
        st.where(F.col("g").isin([group_a, group_b]))
        .groupBy("bucket")
        .agg(F.sum(F.when(F.col("g") == group_a, F.col("n")).otherwise(0))
             .cast("bigint").alias("n_a"),
             F.sum(F.when(F.col("g") == group_b, F.col("n")).otherwise(0))
             .cast("bigint").alias("n_b"))
    )
    w = Window.partitionBy()
    c = F.count("*").over(w)
    smoothed = j.select(
        "bucket", "n_a", "n_b",
        ((F.col("n_a") + 1).cast("double")
         / (F.sum("n_a").over(w) + c).cast("double")).alias("_q"),
        ((F.col("n_b") + 1).cast("double")
         / (F.sum("n_b").over(w) + c).cast("double")).alias("_p"),
    )
    termed = smoothed.select(
        "bucket", "n_a", "n_b",
        F.round((F.col("_p") - F.col("_q"))
                * F.log(F.col("_p") / F.col("_q")), 6)
        .cast("decimal(12,6)").alias("psi_term"),
    )
    thr = F.lit(threshold_milli).cast("double") / 1000.0
    return (
        termed.select(
            "bucket", "n_a", "n_b",
            F.col("psi_term").cast("double").alias("psi_term"),
            F.sum("psi_term").over(w).cast("double").alias("psi_total"))
        .withColumn("shifted", F.col("psi_total") > thr)
    )


def streaming_contingency(stream: DataFrame, state_path: str,
                          checkpoint: str, row_col: str, col_col: str):
    """Streaming two-way contingency counts — the drift-test state
    operator next to the mergeable-sketch family (streaming_count_min /
    streaming_hll): each micro-batch's (row, col) count table merges
    into the persisted state by CELL-WISE ADDITION (counts are a
    commutative monoid), so the state after N batches is exactly the
    batch groupBy over all rows for any split; exactly-once comes from
    the checkpointed availableNow replay, as for every additive state
    here (contrast streaming_hll's idempotent lattice, which also
    absorbs re-delivery).

    State is one parquet table (row_val, col_val, n) — category²
    rows forever, regardless of stream volume. The chi-square
    independence verdict serves from the state via
    stattests.chi_square_from_counts (counts compose exactly, so the
    served verdict hash-matches the batch test over the same rows).
    """

    def step(batch: DataFrame, old: DataFrame | None) -> DataFrame:
        partial = (
            # NULL categories excluded per chi_square_independence's
            # NULL discipline — the state must hold exactly the cells
            # the batch test counts
            batch.where(F.col(row_col).isNotNull()
                        & F.col(col_col).isNotNull())
            .groupBy(F.col(row_col).cast("string").alias("row_val"),
                     F.col(col_col).cast("string").alias("col_val"))
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        return partial if old is None else _add_counts(old, partial, "row_val", "col_val")

    return _merge_sink(stream, state_path, checkpoint, step)


def contingency_chi_square(spark: SparkSession, state_path: str):
    """Serve the chi-square independence verdict from the streaming
    contingency state — identical output to
    stattests.chi_square_independence over the same rows."""
    from semantik_spark.operators.stattests import chi_square_from_counts

    state = _served_state(spark, state_path).select(
        "row_val", "col_val", F.col("n").cast("bigint").alias("observed"))
    return chi_square_from_counts(state)

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 +
the training-data-pipeline extensions); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every entry. Both are read off QUERY_TABLE
(end of module), one row per query holding its name, its ``q_*``
function, its oracle SQL and its bench.py series, so no entry can be
rows-only. Every registered query is value-checked: by a driver hash
row for the first-50 window, and by tools/check_oracle.py locally for
the rest (runs appended to ORACLE_CHECKS.jsonl).

All float outputs are rounded to 6 decimals on BOTH sides; ranks use
deterministic id tie-breaks; large money sums go through decimal casts
— so the driver's order-insensitive value-hash comparison is stable
across engines.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from semantik_spark import oracles
from semantik_spark.functions.caching import cache, release_all
from semantik_spark.functions.hashing import content_hash, hash60
from semantik_spark.functions.parallel import concurrently
from semantik_spark.operators import bm25, chunking, dedup, extract, hyde, metrics, rerank, search, similarity, splade, textanalysis, timeseries
from semantik_spark.operators.sniff import sniff_columns
from semantik_spark.oracles import IR_QUERY_TERMS, SEARCH_QUERIES
from semantik_spark.plans.predicates import compile_predicate
from semantik_spark.session import local_df
from semantik_spark.streaming.windows import sessionize, sliding_counts, tumbling_counts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pin_session_confs(spark: SparkSession) -> None:
    """Session-conf invariant for EVERY query in this module (VERDICT
    r5 item 10): UTC session timezone + nanos-as-long parquet reads.

    These were historically set as a side effect of building an events
    query only, which made any later timestamp-casting query's result
    depend on query ORDER. Setting them unconditionally at the
    entry()/queries() boundary (and keeping the call in _events for
    direct callers) makes the pin a documented module-level contract:
    all oracle SQL is written against DuckDB's naive-timestamp reads,
    which match Spark exactly iff the session renders timestamps in
    UTC. Order-independence is asserted in tests/test_entry_contract.py.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


from contextlib import contextmanager


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for one query body and RESTORE it on exit —
    the order-independence contract (_pin_session_confs) demands no
    query leaves conf side effects behind. Used by the streaming
    queries to shrink spark.sql.shuffle.partitions for the state
    store: a stream-stream join round-trips every state partition per
    micro-batch, so 32 partitions of fixed overhead dominate tiny
    local replays (the data is KBs); production sizes this to the key
    cardinality instead."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ts physical type has varied across testdata
    generations: TIMESTAMP(NANOS) (Spark 4 refuses by default — read
    nanos as long, floor to µs like DuckDB's ::TIMESTAMP cast does),
    plain TIMESTAMP(MICROS) read as TIMESTAMP_NTZ, or already LTZ.
    Normalize every shape to a session-UTC TIMESTAMP column. The UTC
    pin (module contract — see _pin_session_confs) is re-applied here
    for callers that invoke query functions directly without going
    through queries()."""
    _pin_session_confs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        return ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def _queries_df(spark: SparkSession, pairs) -> DataFrame:
    return local_df(spark, pairs, "query_id string, query_text string")


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ re-keyed copies of every 5th doc — the deterministic
    duplicate corpus used by the dedup operators (oracle: AUGMENTED_DOCS_CTE)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    return docs.unionByName(dups)


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Money sums go through
    decimal(18,x) casts so the double result is order-independent."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    # all money columns are exact 2-decimal values: do the arithmetic in
    # decimal (exact, engine-independent), never round a double product
    dec2 = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_f = (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
    tax_f = (F.lit(1).cast("decimal(8,2)") + F.col("l_tax").cast("decimal(8,2)"))
    disc = (dec2 * disc_f).cast("decimal(30,4)")
    charge = (dec2 * disc_f * tax_f).cast("decimal(30,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(dec2).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum("l_quantity") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(dec2).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation — broadcast the dimension tables (customer,
    nation) into the fact scan: zero shuffle on the build side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 anti-join. The right side is restricted to URGENT orders so
    the result is NON-EMPTY at every gate SF (VERDICT r10 item 6: this
    testdata gives every customer at least one order, so the unfiltered
    anti-join returned 0 rows — and a 0-row hash match is a vacuous
    check; any two empty results agree)."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders") \
        .where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE with grouping_id — the OLAP materialization shape
    (Spark grouping_id bit order matches SQL GROUPING(a, b): first
    grouping column is the most significant bit)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS aggregation: orders in a one-year window
    counted per priority when at least one of their lineitems carries a
    >5% discount — the left-semi join is the distributed EXISTS."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.05)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse find-similar: top-10 BM25-dot-product neighbors for each
    seed doc (doc_id % 100 == 0), seeds pruned to their 16 strongest
    terms (operators/bm25.py more_like_this)."""
    res = bm25.more_like_this(
        _t(spark, sf_dir, "documents"), F.col("doc_id") % 100 == 0,
        k=10, top_terms=16,
    )
    return _r6(res, "score")


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = tumbling_counts(ev, minutes=5)
    return out.select(
        F.unix_micros("window_start").alias("bucket_us"),
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = sessionize(ev, gap_minutes=30)
    return s.select(
        "user_id", "session_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# search engine (sparse / dense / hybrid / metrics)
# ---------------------------------------------------------------------------

def q_bm25_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = bm25.tokenize(_t(spark, sf_dir, "documents"))
    return bm25.corpus_stats(tok).select("n_docs", F.round("avgdl", 6).alias("avgdl"))


def q_bm25_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the prefix-bucket term_id scheme aggregates the vocab
    # twice (ranks + bucket counts) — tokenization must run once
    tok = cache(bm25.tokenize(_t(spark, sf_dir, "documents")))
    return bm25.term_stats(tok).select("term", "term_id", "df", F.round("idf", 6).alias("idf"))


def q_bm25_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 stats merge (bm25.merge_corpus_state /
    merge_term_state — VERDICT r6 item 7; reference incremental-sync
    semantics bm25_sparse_indexer.py:545-591): state built on the even
    half of the corpus, delta-merged with the odd half, then the full
    (term, term_id, df, idf, n_docs, avgdl) table derived from merged
    state only — vocab-sized work, no corpus rescan. The oracle
    computes the same table over the WHOLE corpus in one pass, so a
    green row IS the merge == recompute proof at driver level."""
    docs = _t(spark, sf_dir, "documents")
    tok_even = bm25.tokenize(docs.where(F.col("doc_id") % 2 == 0))
    tok_odd = bm25.tokenize(docs.where(F.col("doc_id") % 2 == 1))
    cstate = bm25.merge_corpus_state(bm25.corpus_state(tok_even), tok_odd)
    tstate = bm25.merge_term_state(bm25.term_state(tok_even), tok_odd)
    stats = bm25.stats_from_state(cstate)
    return (
        bm25.term_stats_from_state(tstate, stats)
        .crossJoin(F.broadcast(stats))
        .select("term", "term_id", "df", F.round("idf", 6).alias("idf"),
                "n_docs", F.round("avgdl", 6).alias("avgdl"))
    )


def q_gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-erasure cascade (serving.delete_from_index —
    VERDICT r7 item 5; reference deletes documents through its DB
    cascade, here explicit across separate artifact tables): build the
    full index over documents, erase every doc with doc_id % 7 == 3,
    then return the composed post-cascade state —

      terms/       rebuilt from the RETRACTED mergeable state; the
                   oracle recomputes term stats over the remaining
                   corpus, so a green row proves retraction==recompute
                   at driver-hash level (df decrement, df=0 vocab
                   drop-out, n_docs/avgdl shrink)
      dense_rows / postings_rows   surviving row counts of the two
                   anti-join rewrites
      tombstone_rows               the erased-id audit count
    """
    import shutil

    from semantik_spark.operators import serving

    docs = _t(spark, sf_dir, "documents")
    base = _scratch("gdpr_idx")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    serving.build_index(docs, base)
    serving.delete_from_index(spark, base, docs.where(F.col("doc_id") % 7 == 3))
    terms = spark.read.parquet(f"{base}/terms")
    stats = bm25.stats_from_state(spark.read.parquet(f"{base}/bm25_state/corpus"))
    dense_rows = spark.read.parquet(f"{base}/dense").agg(
        F.count("*").cast("bigint").alias("dense_rows"))
    post_rows = spark.read.parquet(f"{base}/postings").agg(
        F.count("*").cast("bigint").alias("postings_rows"))
    tomb_rows = spark.read.parquet(f"{base}/tombstones").agg(
        F.count_distinct("doc_id").cast("bigint").alias("tombstone_rows"))
    return (
        terms.select("term", "term_id", "df", F.round("idf", 6).alias("idf"))
        .crossJoin(F.broadcast(stats.select(
            "n_docs", F.round("avgdl", 6).alias("avgdl"))))
        .crossJoin(F.broadcast(dense_rows))
        .crossJoin(F.broadcast(post_rows))
        .crossJoin(F.broadcast(tomb_rows))
    )


def q_gdpr_sync_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED erasure story (VERDICT r8 item 6): gdpr_delete_
    cascade proves the full-artifact cascade on a one-shot build,
    bm25_append_delete_replay proves interleaved sparse merges — this
    replay composes both axes: the corpus arrives as three hash-sliced
    append batches (sparse state merge + dense append per batch), and
    the GDPR request (doc_id % 7 == 3) lands BETWEEN appends, cascading
    through dense/postings/terms/tombstones and becoming a standing
    suppression the later batch pre-drops. Final composed state must
    hash-equal a from-scratch build over the surviving corpus — except
    tombstones, which only audit ids that were indexed when the request
    landed (slices 0-1), never the pre-dropped ones."""
    import shutil

    from semantik_spark.operators import serving

    docs = _t(spark, sf_dir, "documents")
    base = _scratch("gdpr_sync_idx")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    slices = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    serving.build_index(slices[0], base)
    # the sparse merge and the dense append of one batch touch disjoint
    # artifacts (bm25_state/postings/terms vs dense/) — overlap them
    # (guide §2.6); batches themselves stay sequential (each sparse
    # merge folds the previous state)
    concurrently(
        lambda: serving.merge_sparse_append(slices[1], base),
        lambda: serving.merge_dense_append(slices[1], base),
    )
    # erasure request lands mid-stream: purge what is indexed, suppress
    # forward
    serving.delete_from_index(
        spark, base,
        docs.where((F.col("doc_id") % 3 < 2) & (F.col("doc_id") % 7 == 3)))
    last = slices[2].where(F.col("doc_id") % 7 != 3)
    concurrently(
        lambda: serving.merge_sparse_append(last, base),
        lambda: serving.merge_dense_append(last, base),
    )
    terms = spark.read.parquet(f"{base}/terms")
    stats = bm25.stats_from_state(spark.read.parquet(f"{base}/bm25_state/corpus"))
    dense_rows = spark.read.parquet(f"{base}/dense").agg(
        F.count("*").cast("bigint").alias("dense_rows"))
    post_rows = spark.read.parquet(f"{base}/postings").agg(
        F.count("*").cast("bigint").alias("postings_rows"))
    tomb_rows = spark.read.parquet(f"{base}/tombstones").agg(
        F.count_distinct("doc_id").cast("bigint").alias("tombstone_rows"))
    return (
        terms.select("term", "term_id", "df", F.round("idf", 6).alias("idf"))
        .crossJoin(F.broadcast(stats.select(
            "n_docs", F.round("avgdl", 6).alias("avgdl"))))
        .crossJoin(F.broadcast(dense_rows))
        .crossJoin(F.broadcast(post_rows))
        .crossJoin(F.broadcast(tomb_rows))
    )


def q_bm25_append_delete_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sparse sync loop end-to-end (VERDICT r7 item 9):
    the corpus arrives as FOUR hash-sliced APPEND batches folded into
    the mergeable BM25 state (serving.merge_sparse_append), with a GDPR
    delete (serving.delete_from_index, doc_id % 5 == 2) interleaved
    after the second append. The state algebra is an abelian group, so
    any interleaving of merges and retractions must equal one recompute
    over the surviving corpus — the oracle does exactly that recompute,
    and the multi-step merged==rebuild equality is additionally pinned
    per step in tests/test_serving.py."""
    import shutil

    from semantik_spark.operators import serving

    docs = _t(spark, sf_dir, "documents")
    base = _scratch("sync_idx")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    slices = [docs.where(F.col("doc_id") % 4 == i) for i in range(4)]
    serving.build_index(slices[0], base)
    serving.merge_sparse_append(slices[1], base)
    # the GDPR request erases every % 5 == 2 doc ALREADY indexed and
    # puts the ids on a suppression list, so later batches pre-drop
    # them (the standing-exclusion shape a real erasure request has);
    # surviving corpus = documents minus (doc_id % 5 == 2) exactly
    serving.delete_from_index(
        spark, base,
        docs.where((F.col("doc_id") % 4 < 2) & (F.col("doc_id") % 5 == 2)))
    for s in slices[2:]:
        serving.merge_sparse_append(s.where(F.col("doc_id") % 5 != 2), base)
    terms = spark.read.parquet(f"{base}/terms")
    stats = bm25.stats_from_state(spark.read.parquet(f"{base}/bm25_state/corpus"))
    return (
        terms.select("term", "term_id", "df", F.round("idf", 6).alias("idf"))
        .crossJoin(F.broadcast(stats.select(
            "n_docs", F.round("avgdl", 6).alias("avgdl"))))
    )


def q_bm25_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before tokenize (r14): the regex tokenize feeding the
    # cache otherwise materializes in ONE task over the one-file scan;
    # tokens/tf/idf are per-row + exact-integer — placement-free
    from semantik_spark.functions.parallel import spread

    tok = cache(bm25.tokenize(spread(_t(spark, sf_dir, "documents"),
                                     "doc_id")))
    stats = bm25.corpus_stats(tok)
    post = bm25.postings(tok, bm25.term_stats(tok, stats), stats)
    return post.select("doc_id", "term", "tf", F.round("weight", 6).alias("weight"))


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = bm25.search(_t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), k=10)
    return _r6(res, "score")


def q_bm25_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k from a statically PRUNED index: per-term top-32
    postings by impact weight (Carmel et al. 2001), the sparse
    counterpart to IVF's probe-fewer-cells trade — worst-case per-term
    serving cost drops from O(corpus) to O(keep)
    (operators/bm25.py pruned_postings/pruned_search)."""
    res = bm25.pruned_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=10, keep=32,
    )
    return _r6(res, "score")


def q_bm25_rocchio_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (bm25.rocchio_search, Rocchio
    1971): first-pass top-5 per query mined for the 8 strongest
    non-query terms by summed impact weight (micro-quantized cut,
    engine-portable), second pass scores original + 0.4-scaled
    expansion weights — the classic vocabulary-mismatch fix as two
    broadcast score passes over ONE persisted postings build."""
    res = bm25.rocchio_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=10, fb_docs=5, fb_terms=8, beta_milli=400,
    )
    return _r6(res, "score")


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result snippets/highlighting (search.best_window_snippets): for
    each BM25 top-5 hit, the 12-token document window covering the most
    distinct query terms (ties: more hits, earliest). Hit-anchored
    candidate starts keep the window search bounded by the per-doc hit
    count; the snippet string comes from the tokenizer's own stream so
    the whole output is engine-exact."""
    from semantik_spark.operators.search import best_window_snippets

    return best_window_snippets(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=5, window_tokens=12)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (search.phrase_search, Lucene
    PhraseQuery(slop=0) semantics): quoted bigram/trigram queries
    matched by positional adjacency on the stopword-filtered token
    stream — anchor = hit_pos - slot, HAVING all slots present — then
    ranked occurrences DESC / first anchor ASC. The quoted-query
    capability next to the term/dense/hybrid retrieval family."""
    from semantik_spark.operators.search import phrase_search
    from semantik_spark.oracles import PHRASE_QUERIES

    phrases = spark.createDataFrame(PHRASE_QUERIES, ["query_id", "phrase"])
    return phrase_search(_t(spark, sf_dir, "documents"), phrases, k=10)


def q_phrase_search_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase search (search.phrase_search, slop=1): "ordered
    near" matching — every phrase term within 1 position of its
    in-phrase offset relative to a common window base, admitting one
    insertion ("sort fast merge" matches "sort merge"). Same anchor
    table as the exact path with a range condition on anchor spread;
    candidate mass stays posting-bounded (per-doc-tf² window pairs,
    partition-local)."""
    from semantik_spark.operators.search import phrase_search
    from semantik_spark.oracles import PHRASE_QUERIES

    phrases = spark.createDataFrame(PHRASE_QUERIES, ["query_id", "phrase"])
    return phrase_search(_t(spark, sf_dir, "documents"), phrases, k=10,
                         slop=1)


def q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search (search.facet_counts): per-query facet sidebar —
    hit counts by source and lang over the BM25 top-50 result set, top
    5 values per facet. Aggregation touches only the hit rows, never
    the corpus."""
    from semantik_spark.operators.search import facet_counts

    return facet_counts(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        facet_cols=("source", "lang"), search_k=50, top_values=5)


def q_query_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-box autocomplete (search.prefix_completions): top-5
    corpus-vocabulary completions per typed prefix, ranked by document
    frequency. Prefix lengths broadcast-cross the df-bounded vocab so
    the match is an equi-join on (length, prefix-key) — never a
    vocab × prefixes LIKE scan."""
    from semantik_spark.operators.search import prefix_completions
    from semantik_spark.oracles import AUTOCOMPLETE_PREFIXES

    pf = spark.createDataFrame([(p,) for p in AUTOCOMPLETE_PREFIXES],
                               ["prefix"])
    return prefix_completions(_t(spark, sf_dir, "documents"), pf, k=5)


def q_user_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve
    (timeseries.kaplan_meier_conversion, Kaplan & Meier 1958): integer-
    hour durations from first event to first purchase, administratively
    censored at 36h — the censoring-correct conversion-latency estimate.
    Log factors cumulate as rounded DECIMAL(28,9) so the curve is
    engine-exact."""
    return timeseries.kaplan_meier_conversion(
        _events(spark, sf_dir), window_hours=36, target_type="purchase")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (profiling.benford_audit) over order
    amounts: observed vs log10(1+1/d) leading-digit shares with a
    rounded-term chi-square — the forensic screen for fabricated or
    truncated monetary data. One scan into 9 counters."""
    from semantik_spark.operators.profiling import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass concentration (textanalysis.token_gini): Gini
    coefficient + Lorenz deciles of the corpus term-frequency
    distribution — integer rank-weighted sums, one terminal division,
    vocab-bounded window (the zipf_fit discipline)."""
    from semantik_spark.operators.textanalysis import token_gini

    return token_gini(_t(spark, sf_dir, "documents"), deciles=10)


def q_knn_label_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed modularity (graph.label_modularity, Leicht & Newman
    2008) of the embeddings' ground-truth labels judged on the 5-NN
    cosine graph: Q = Σ e_cc/m - Σ dout·din/m² with DECIMAL-widened
    products — the external-validation score tying the clustering
    family to the graph family."""
    from semantik_spark.operators.graph import label_modularity

    emb = _t(spark, sf_dir, "embeddings")
    # the SAME memoized 5-NN edge table every other knn_* graph query
    # shares (this was the one direct knn_graph_edges call — it re-ran
    # the all-pairs scoring the memo exists to amortize, ~19 s at sf0.1)
    edges = _knn_edges(spark, sf_dir, k=5)
    return label_modularity(
        edges, emb.select("vec_id", "label"),
        node_col="vec_id", label_col="label")


def q_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity per document
    (textanalysis.kneser_ney_logprob, Chen & Goodman 1998): absolute
    discounting + continuation-count back-off — the production LM
    smoothing next to lm_bigram's add-alpha, same DECIMAL log
    accumulation discipline."""
    from semantik_spark.operators.textanalysis import kneser_ney_logprob

    return kneser_ney_logprob(_t(spark, sf_dir, "documents"), discount=0.75)



def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (search.boolean_search, Lucene BooleanQuery
    semantics): MUST / SHOULD / MUST_NOT clauses over the BM25 postings
    — every MUST term present, no MUST_NOT term, >=1 SHOULD hit when
    MUST is empty; score = summed impact weight over distinct matched
    positive terms. The +term/-term operator layer every search UI puts
    on top of free-text ranking."""
    from semantik_spark.operators.search import boolean_search
    from semantik_spark.oracles import BOOLEAN_QUERIES

    bq = spark.createDataFrame(
        BOOLEAN_QUERIES, ["query_id", "must", "should", "must_not"])
    return boolean_search(_t(spark, sf_dir, "documents"), bq, k=10)



def q_stat_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distribution-shift test
    (stattests.ks_test_2samp): sup-CDF distance between click and
    purchase event values — integer-exact D over the value-level
    table, Numerical Recipes asymptotic p — the statistical gate a
    pipeline runs between stages to catch silent metric drift."""
    from semantik_spark.operators.stattests import ks_test_2samp

    return ks_test_2samp(
        _events(spark, sf_dir), "event_type", "value", "click", "purchase")


def q_stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (stattests.mann_whitney_u): did
    purchase values shift vs views — doubled-rank exact rank sums,
    tie-corrected variance, the nonparametric cohort-comparison test
    for skewed metrics."""
    from semantik_spark.operators.stattests import mann_whitney_u

    return mann_whitney_u(
        _events(spark, sf_dir), "event_type", "value", "view", "purchase")


def q_stat_tests_from_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS + Mann-Whitney served from MERGEABLE sketch state (VERDICT
    r9 item 5, the chi_square_from_counts pattern generalized): the
    value-level table is replaced by DDSketch bucket counts
    (alpha=1%, constant-size, merge = groupBy(bucket).sum — per-shard/
    per-epoch partials compose exactly), and
    stattests.ks_from_value_counts / mwu_from_value_counts fold the
    same statistics over bucket indices. Emits exact-vs-sketch rows
    with the error PINNED: |ks_d error| <= 0.01 and |z error| <= 0.05
    (measured 0.0015 / 0.0021 at sf0.01) — the whole location/shape
    test family becomes incremental at 100 TB."""
    from semantik_spark.operators.sketches import ddsketch_params
    from semantik_spark.operators.stattests import (
        ks_from_value_counts, ks_test_2samp, mann_whitney_u,
        mwu_from_value_counts)

    ev = _events(spark, sf_dir)
    a, b = "click", "purchase"
    _, inv_lg, _ = ddsketch_params(0.01)
    g, x = F.col("event_type"), F.col("value")
    bucket = F.when(
        x > 0, F.ceil(F.log(x) * F.lit(inv_lg)).cast("int")
    ).otherwise(F.lit(-(2 ** 31)).cast("int"))
    svl = (
        ev.where(g.isin([a, b]) & x.isNotNull())
        .groupBy(bucket.alias("v"))
        .agg(F.sum(F.when(g == a, 1).otherwise(0)).cast("bigint").alias("na"),
             F.sum(F.when(g == b, 1).otherwise(0)).cast("bigint").alias("nb"))
    )
    ks = (
        ks_test_2samp(ev, "event_type", "value", a, b)
        .select(F.col("ks_d").cast("double").alias("exact_stat"))
        .crossJoin(ks_from_value_counts(svl, a, b)
                   .select(F.col("ks_d").cast("double").alias("sketch_stat")))
        .select(F.lit("ks_d").alias("test"), "exact_stat", "sketch_stat",
                F.lit(0.01).alias("tol"))
    )
    mw = (
        mann_whitney_u(ev, "event_type", "value", a, b)
        .select(F.col("z").cast("double").alias("exact_stat"))
        .crossJoin(mwu_from_value_counts(svl, a, b)
                   .select(F.col("z").cast("double").alias("sketch_stat")))
        .select(F.lit("mwu_z").alias("test"), "exact_stat", "sketch_stat",
                F.lit(0.05).alias("tol"))
    )
    return (
        ks.unionByName(mw)
        .select("test", "exact_stat", "sketch_stat",
                F.round(F.abs(F.col("exact_stat") - F.col("sketch_stat")), 6)
                .alias("abs_err"),
                (F.round(F.abs(F.col("exact_stat") - F.col("sketch_stat")), 6)
                 <= F.col("tol")).alias("within_tol"))
    )


def q_stat_bf_from_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe served from MERGEABLE DDSketch state (VERDICT
    r10 item 5, extending the stat_tests_from_sketch pattern): the
    per-(group, value) count table is replaced by DDSketch bucket
    counts whose REPRESENTATIVE values (2·gamma^i/(gamma+1), the
    alpha-relative-error midpoint) feed stattests.bf_from_value_counts
    — unlike KS/MWU the BF moments need value magnitudes, not just
    order, so indices alone don't qualify. Emits exact-vs-sketch rows
    per group median + mean-absdev and the F statistic, with RELATIVE
    tolerances pinned: medians/mads within 1% (the DDSketch alpha
    guarantee: the sketch median is the representative of the bucket
    holding the true median), F within 5% (measured 0.37% at sf0.1,
    3.2% at sf0.001 where F itself is near-noise)."""
    from semantik_spark.operators.sketches import ddsketch_params
    from semantik_spark.operators.stattests import (
        bf_from_value_counts, brown_forsythe)

    ev = _events(spark, sf_dir)
    _, inv_lg, coeff = ddsketch_params(0.01)
    lg = 1.0 / inv_lg
    x = F.col("value")
    bucket = F.when(
        x > 0, F.ceil(F.round(F.log(x) * F.lit(inv_lg), 9)).cast("int")
    ).otherwise(F.lit(-(2 ** 31)).cast("int"))
    # bucket representative value; the reserved non-positive bucket
    # maps to 0.0 (exact for the zero values this dataset carries)
    rep = F.when(bucket == -(2 ** 31), F.lit(0.0)).otherwise(
        F.round(F.lit(coeff) * F.exp(bucket.cast("double") * F.lit(lg)), 9))
    vl = (
        ev.where(x.isNotNull())
        .groupBy(F.col("event_type").cast("string").alias("g"),
                 rep.alias("v"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # e and s each feed the median/mad join AND the F-stat row —
    # without persisting, the full exact-BF and sketch-BF pipelines
    # (two event-table scans each) re-ran per consumer (r13: 44 → 37
    # jobs, wall −13% at sf0.1 — the rest of the job count is the BF
    # pipelines' own internal structure, materialized once under the
    # cache). Both are tiny per-group result tables; caching reuses the
    # already-computed values, it cannot change them.
    e = cache(brown_forsythe(ev, "event_type", "value"))
    s = cache(bf_from_value_counts(vl))

    def cmp(test_col, e_col, s_col, tol: float):
        # both stats are already 6-dp, so abs_err is an exact multiple
        # of 1e-6 and the tol·|exact| comparison is engine-identical
        diff = F.round(F.abs(e_col - s_col), 6)
        return (test_col.alias("test"),
                e_col.alias("exact_stat"), s_col.alias("sketch_stat"),
                diff.alias("abs_err"), F.lit(tol).alias("rel_tol"),
                (diff <= F.lit(tol) * F.abs(e_col)).alias("within_tol"))

    j = (e.select(F.col("group_val"), F.col("median").alias("med_e"),
                  F.col("mean_absdev").alias("mad_e"))
         .join(s.select(F.col("group_val"), F.col("median").alias("med_s"),
                        F.col("mean_absdev").alias("mad_s")), "group_val"))
    med_rows = j.select(*cmp(F.concat(F.lit("median:"), F.col("group_val")),
                             F.col("med_e"), F.col("med_s"), 0.01))
    mad_rows = j.select(*cmp(F.concat(F.lit("mad:"), F.col("group_val")),
                             F.col("mad_e"), F.col("mad_s"), 0.01))
    f_row = (e.select(F.col("f_stat").alias("f_e")).distinct()
             .crossJoin(s.select(F.col("f_stat").alias("f_s")).distinct())
             .select(*cmp(F.lit("bf_f_stat"), F.col("f_e"), F.col("f_s"),
                          0.05)))
    return (med_rows.unionByName(mad_rows).unionByName(f_row)
            .orderBy("test"))


def q_stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test
    (stattests.chi_square_independence): event-type mix vs user cohort
    (user_id % 5) — exact contingency margins, 9-dp DECIMAL
    contribution accumulation, dense margin cross with dof."""
    from semantik_spark.operators.stattests import chi_square_independence

    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 5).alias("cohort"))
    return chi_square_independence(ev, "event_type", "cohort")



def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend (timeseries.theil_sen_daily,
    Sen 1968): median of all pairwise day slopes + median-residual
    intercept over the calendar-bounded daily total series — the
    outlier-immune drift check next to trend_ols (29.3% breakdown
    point vs OLS's zero)."""
    from semantik_spark.operators.timeseries import theil_sen_daily

    return theil_sen_daily(_t(spark, sf_dir, "orders"))



def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency spectrum (textanalysis.good_turing_spectrum,
    Good 1953): frequency-of-frequencies N_r with Turing-adjusted counts
    r* = (r+1)N_{r+1}/N_r and per-class probability mass — the unseen-
    mass estimate (P_0 = N_1/N) every coverage/smoothing decision
    reads."""
    from semantik_spark.operators.textanalysis import good_turing_spectrum

    return good_turing_spectrum(_t(spark, sf_dir, "documents"), max_r=20, n=2)



def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff held-out trigram scoring
    (textanalysis.stupid_backoff_score, Brants et al. 2007): counts
    from the even-doc_id half, odd docs scored through the
    trigram -> 0.4*bigram -> 0.16*unigram backoff chain — the
    web-scale unnormalized LM with a real backoff census."""
    from semantik_spark.operators.textanalysis import stupid_backoff_score

    docs = _t(spark, sf_dir, "documents")
    return stupid_backoff_score(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1), alpha_milli=400)



def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (textanalysis.heaps_law): cumulative
    trigram-vocabulary V(n) checkpoints over 32 doc-id-range buckets, K*n^beta
    regr_* fit — the duplication/noise telltale next to zipf_fit (flat
    curve = boilerplate, linear = random noise)."""
    from semantik_spark.operators.textanalysis import heaps_law

    return heaps_law(_t(spark, sf_dir, "documents"), buckets=32, n=3)



def q_corpus_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level Jensen-Shannon drift with attribution
    (profiling.corpus_drift_jsd): the src0-9 half vs the src10-19 half
    of the corpus — PSI's hashed buckets say THAT the distribution
    moved, JSD's top-20 term contributions say WHAT moved."""
    from semantik_spark.operators.profiling import corpus_drift_jsd

    docs = _t(spark, sf_dir, "documents")
    sfx = F.substring("source", 4, 10).cast("int")
    return corpus_drift_jsd(
        docs.where(sfx < 10), docs.where(sfx >= 10), top_k=20)



def q_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering (recsys.item_item_cosine,
    Sarwar et al. 2001): co-visitation cosine over distinct
    (user, props.$.k) interactions with recency-capped histories — the
    hot-user escape makes the quadratic stage cap-bounded."""
    from semantik_spark.operators.recsys import item_item_cosine

    ev = _events(spark, sf_dir).select(
        "user_id", "ts",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"))
    return item_item_cosine(ev, top_k=50, max_items_per_user=50)



def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometry (textanalysis.burrows_delta, Burrows
    2002): per-probe nearest documents in z-scored top-30-word
    relative-frequency space — the shared-source/template detector
    that survives topic shifts."""
    from semantik_spark.operators.textanalysis import burrows_delta

    return burrows_delta(_t(spark, sf_dir, "documents"),
                         n_words=30, probes=4, top_k=5, probe_mod=125)



def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index sweep (stattests.hill_tail_index, Hill 1975)
    over order amounts: H(k) and alpha(k) at k in {50,100,200,500} —
    the heavy-tail diagnostic (alpha <= 2 means infinite variance:
    winsorize before averaging)."""
    from semantik_spark.operators.stattests import hill_tail_index

    return hill_tail_index(_t(spark, sf_dir, "orders"), "o_totalprice",
                           ks=(50, 100, 200, 500))



def q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-to-rank training-table extraction (search.ltr_features):
    BM25 ∪ dense top-20 candidates per query, each as a feature row
    (branch ranks, sparse score, matched-term census, mock cosine,
    doc length) — the join every LambdaMART-style ranker trains on."""
    from semantik_spark.operators.search import ltr_features

    return ltr_features(
        _t(spark, sf_dir, "documents"),
        _queries_df(spark, SEARCH_QUERIES), k=20)



def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier concentration per nation
    (profiling.market_concentration_hhi): revenue shares squared on the
    x10000 antitrust scale — the market-structure rollup over the
    supplier dimension."""
    from semantik_spark.operators.profiling import market_concentration_hhi

    return market_concentration_hhi(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"))



def q_cuped_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (stattests.cuped_adjust, Deng et al.
    2013): user_id%2 arms, pre/post split at the event-window midpoint
    — pooled theta from DECIMAL moment sums, closed-form adjusted arm
    means/variances, the experiment-sensitivity standard."""
    from semantik_spark.operators.stattests import cuped_adjust

    return cuped_adjust(_events(spark, sf_dir), "2024-01-16 00:00:00",
                        arms=2)



def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (timeseries.logrank_conversion, Mantel
    1966): user_id%2 cohorts' time-to-purchase compared by
    hypergeometric O-E accumulation over the KM event times — the
    censoring-correct latency A/B verdict next to user_survival."""
    from semantik_spark.operators.timeseries import logrank_conversion

    return logrank_conversion(_events(spark, sf_dir), window_hours=36,
                              target_type="purchase", arms=2)



def q_knn_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-coefficient distribution + global transitivity of the
    5-NN cosine graph (graph.clustering_coefficients, Watts-Strogatz
    1998): decile histogram of local C_i with integer-exact wedge
    counts — the clumpy-vs-hub-and-spoke summary next to
    knn_triangles."""
    from semantik_spark.operators.graph import clustering_coefficients

    return clustering_coefficients(_knn_edges(spark, sf_dir, k=5),
                                   buckets=10)



def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand own-price elasticity (timeseries.price_elasticity):
    regr_slope(ln qty, ln unit_price) over line items with a broadcast
    part join — the log-log demand curve per brand, one
    partial-aggregable pass."""
    from semantik_spark.operators.timeseries import price_elasticity

    return price_elasticity(_t(spark, sf_dir, "lineitem"),
                            _t(spark, sf_dir, "part"), min_obs=50)



def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest with MASE
    (timeseries.forecast_backtest_snaive, Hyndman & Koehler 2006):
    lag-7 persistence forecasts on the last 28 days of daily revenue,
    scaled by the train-period seasonal MAE — the "does anything beat
    persistence" gate, DECIMAL-exact end to end."""
    from semantik_spark.operators.timeseries import forecast_backtest_snaive

    return forecast_backtest_snaive(_t(spark, sf_dir, "orders"),
                                    season=7, holdout=28)



def q_streaming_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chi-square drift end-to-end
    (streaming.incremental.streaming_contingency): the
    (event_type, user_id%5) stream delivered as four real
    micro-batches, each batch's contingency counts merged into
    persisted state by cell-wise addition; the independence verdict
    serves from the state and must hash-match the BATCH test over the
    same rows (counts compose exactly), so the oracle is the batch
    chi-square twin."""
    import shutil

    from semantik_spark.streaming.incremental import (
        contingency_chi_square, stream_files, streaming_contingency,
    )

    base = _scratch("stream_chi2")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 5).alias("cohort"))
    drop = f"{base}/drop"
    ev.repartition(4).write.parquet(drop)
    q = streaming_contingency(
        stream_files(spark, drop, "event_type string, cohort bigint",
                     fmt="parquet", max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "event_type", "cohort",
    )
    q.awaitTermination(300)
    return contingency_chi_square(spark, f"{base}/state")



def q_streaming_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KS drift monitor end-to-end
    (streaming.incremental.streaming_ddsketch + ddsketch_state_ks):
    the events stream delivered as four real micro-batches, each
    batch's DDSketch bucket counts merged into persisted state by
    count addition; the two-sample KS verdict (click vs purchase)
    serves from the state and must hash-match the BATCH sketch fold
    over the same rows (the merge is exact), which is itself within
    the pinned tolerance of the exact test (stat_tests_from_sketch)."""
    import shutil

    from semantik_spark.streaming.incremental import (
        ddsketch_state_ks, stream_files, streaming_ddsketch,
    )

    base = _scratch("stream_ks")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_type", "value")
    drop = f"{base}/drop"
    ev.repartition(4).write.parquet(drop)
    q = streaming_ddsketch(
        stream_files(spark, drop, "event_type string, value double",
                     fmt="parquet", max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "event_type", "value",
        alpha=0.01,
    )
    q.awaitTermination(300)
    return ddsketch_state_ks(spark, f"{base}/state", "click", "purchase")


def q_streaming_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Brown-Forsythe variance-drift monitor end-to-end
    (streaming_ddsketch + ddsketch_state_bf, closing the incremental
    stat-serve family: KS ✓, chi-square ✓, BF now): the events stream
    delivered as four real micro-batches, DDSketch bucket counts
    merged into persisted state by count addition; the k-group BF
    verdict decodes bucket representative values from the state and
    must hash-match the batch sketch fold (the merge is exact), which
    is itself within the stat_bf_from_sketch pins of the exact test."""
    import shutil

    from semantik_spark.streaming.incremental import (
        ddsketch_state_bf, stream_files, streaming_ddsketch,
    )

    base = _scratch("stream_bf")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_type", "value")
    drop = f"{base}/drop"
    ev.repartition(4).write.parquet(drop)
    q = streaming_ddsketch(
        stream_files(spark, drop, "event_type string, value double",
                     fmt="parquet", max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "event_type", "value",
        alpha=0.01,
    )
    q.awaitTermination(300)
    return ddsketch_state_bf(spark, f"{base}/state", alpha=0.01)


def q_streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor end-to-end (streaming_ddsketch +
    ddsketch_state_psi): four real micro-batches merge DDSketch bucket
    counts into persisted state; the click-vs-purchase value PSI
    serves from the state's own log-buckets and hash-matches the batch
    sketch fold (the merge is exact). Completes the incremental drift
    trio from ONE persisted artifact: KS (shape), BF (variance), PSI
    (banded mass score with the standard monitoring bands)."""
    import shutil

    from semantik_spark.streaming.incremental import (
        ddsketch_state_psi, stream_files, streaming_ddsketch,
    )

    base = _scratch("stream_psi")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_type", "value")
    drop = f"{base}/drop"
    ev.repartition(4).write.parquet(drop)
    q = streaming_ddsketch(
        stream_files(spark, drop, "event_type string, value double",
                     fmt="parquet", max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "event_type", "value",
        alpha=0.01,
    )
    q.awaitTermination(300)
    return ddsketch_state_psi(spark, f"{base}/state", "click", "purchase")


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-transition Markov chain
    (timeseries.markov_stationary): pico-unit-quantized power iteration
    on the K x K count matrix (driver-local on the type-alphabet-
    bounded state, the codebook-trainer discipline) — where user
    journeys spend their time in the long run."""
    from semantik_spark.operators.timeseries import markov_stationary

    return markov_stationary(_events(spark, sf_dir), iterations=30)



def q_textrank_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank extractive summaries (extract.textrank_sentences,
    Mihalcea & Tarau 2004 §4): per-doc sentence graphs over shared
    analyzed tokens, weighted PageRank, top-3 central sentences — the
    unsupervised summarizer as one corpus pass."""
    from semantik_spark.operators.extract import textrank_sentences

    return textrank_sentences(_t(spark, sf_dir, "documents"),
                              top_k=3, iterations=8)



def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit (profiling.referential_integrity): all
    seven TPC-H snowflake relations plus the cross-domain
    events.user_id -> customer probe — the promote-gate data-quality
    suite as one unioned aggregate."""
    from semantik_spark.operators.profiling import referential_integrity

    t = lambda n: _t(spark, sf_dir, n)  # noqa: E731
    ev = _events(spark, sf_dir)
    return referential_integrity([
        (t("lineitem"), "l_orderkey", "lineitem", t("orders"), "o_orderkey", "orders"),
        (t("lineitem"), "l_partkey", "lineitem", t("part"), "p_partkey", "part"),
        (t("lineitem"), "l_suppkey", "lineitem", t("supplier"), "s_suppkey", "supplier"),
        (t("orders"), "o_custkey", "orders", t("customer"), "c_custkey", "customer"),
        (t("customer"), "c_nationkey", "customer", t("nation"), "n_nationkey", "nation"),
        (t("supplier"), "s_nationkey", "supplier", t("nation"), "n_nationkey", "nation"),
        (t("nation"), "n_regionkey", "nation", t("region"), "r_regionkey", "region"),
        (ev, "user_id", "events", t("customer"), "c_custkey", "customer"),
    ])



def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution
    (timeseries.markov_attribution, Anderl et al. 2014): journeys to
    first purchase as an absorbing chain; each channel's credit is the
    conversion-probability drop when its paths are removed —
    driver-local pico-quantized iteration on the alphabet-bounded
    matrix, the data-driven alternative to last-touch."""
    from semantik_spark.operators.timeseries import markov_attribution

    return markov_attribution(
        _events(spark, sf_dir),
        channels=["click", "error", "signup", "view"],
        target_type="purchase", iterations=50)



def q_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed sequential patterns over sessions
    (timeseries.sequential_patterns, the PrefixSpan length-2 core):
    a-before-b containment via per-(session,type) min/max positions
    with direction asymmetry — subsequence order, not adjacency
    (events_transitions covers that)."""
    from semantik_spark.operators.timeseries import sequential_patterns

    # min_sessions=3: non-empty at EVERY gate SF (9 rows at sf0.001,
    # 20 at sf0.01) — min_sessions=5 returned 0 rows at sf0.001 and a
    # 0-row hash match is a vacuous check (VERDICT r10 item 6)
    return sequential_patterns(_events(spark, sf_dir), gap_minutes=30,
                               min_sessions=3, top_k=20)



def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean order value
    (stattests.poisson_bootstrap_mean, Chamandy et al. 2012): 200
    derandomized Poisson(1)-weighted replicates — the bootstrap that
    distributes (one weighted aggregate per replicate, no global
    resampling), reproducible because weights come from the portable
    hash ladder."""
    from semantik_spark.operators.stattests import poisson_bootstrap_mean

    return poisson_bootstrap_mean(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey",
        replicates=200, alpha_pct=5)



def q_funnel_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversions with Wilson score intervals
    (timeseries.funnel_wilson, Wilson 1927): per consecutive-step rate
    of the view->click->purchase funnel, the [0,1]-safe CI every A/B
    dashboard quotes instead of the collapsing normal interval."""
    from semantik_spark.operators.timeseries import funnel_wilson

    return funnel_wilson(_events(spark, sf_dir),
                         ["view", "click", "purchase"], z_milli=1960)



def q_eb_item_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk per-item purchase rates
    (stattests.eb_shrunk_rates, Robbins/Efron-Morris beta-binomial
    MoM): posterior means that stop 1-of-1 items outranking
    980-of-1000 items on any rate leaderboard."""
    from semantik_spark.operators.stattests import eb_shrunk_rates

    ev = _events(spark, sf_dir).select(
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"))
    return eb_shrunk_rates(ev, "item", "is_purchase")



def q_ks_family_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest KS drift tests for every event type with
    Benjamini-Hochberg FDR control (stattests.ks_family_bh, Benjamini
    & Hochberg 1995): the multiple-testing discipline for segment
    screens — q-values from the reverse running min, all segments in
    one dense pass."""
    from semantik_spark.operators.stattests import ks_family_bh

    return ks_family_bh(_events(spark, sf_dir), "event_type", "value",
                        alpha_milli=50)



def q_rank_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the BM25 and dense rankings of each
    query's hybrid candidates (metrics.rank_correlation_tau): the
    branch-agreement diagnostic — tau near 1 means fusion adds little,
    near 0 means RRF does real work. Exact integer pair counts,
    k²-bounded per query."""
    from semantik_spark.operators.metrics import rank_correlation_tau

    return rank_correlation_tau(
        _t(spark, sf_dir, "documents"),
        _queries_df(spark, SEARCH_QUERIES), k=20)



def q_collocations_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood collocations
    (textanalysis.collocations_llr, Dunning 1993): G² over the 2x2
    bigram contingency — the evidence-mass measure next to
    text_collocations' PMI (which maxes out on hapax pairs)."""
    from semantik_spark.operators.textanalysis import collocations_llr

    return collocations_llr(_t(spark, sf_dir, "documents"),
                            min_count=5, top_k=50)



def q_knn_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality of the 5-NN cosine graph
    (graph.harmonic_centrality, Boldi & Vigna 2014): 3-hop BFS with
    integer distances and shared 6-dp 1/d weights — the
    disconnection-safe closeness measure, hop-capped exactly like
    nprobe caps IVF."""
    from semantik_spark.operators.graph import harmonic_centrality

    return harmonic_centrality(_knn_edges(spark, sf_dir, k=5),
                               hops=3, top_k=20)



def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid cosine matrix
    (similarity.label_centroid_similarity): the class-geometry map of
    the embedding space — which labels a kNN search will bleed
    between, from DECIMAL-exact centroid sums."""
    from semantik_spark.operators.similarity import label_centroid_similarity

    return label_centroid_similarity(_t(spark, sf_dir, "embeddings"))



def q_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit (stattests.simpson_slope_audit): pooled
    vs per-brand slope of quantity on discount — the aggregation-trap
    detector every BI rollup needs before quoting a pooled trend."""
    from semantik_spark.operators.stattests import simpson_slope_audit

    j = (_t(spark, sf_dir, "lineitem")
         .join(F.broadcast(_t(spark, sf_dir, "part")
                           .select("p_partkey", "p_brand")),
               F.col("l_partkey") == F.col("p_partkey"))
         .select("p_brand", F.col("l_discount").alias("x"),
                 F.col("l_quantity").alias("y")))
    return simpson_slope_audit(j, "x", "y", "p_brand")



def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + Theil's U between document language and
    source shard (stattests.mutual_information): the effect-size
    companion to chi-square — how many nats of the language mix each
    source explains."""
    from semantik_spark.operators.stattests import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"),
                              "lang", "source")



def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa on the NB held-out confusion
    (metrics.cohens_kappa, Cohen 1960): chance-corrected agreement —
    the classifier quality number that survives class imbalance,
    computed over nb_classify's predictions."""
    from semantik_spark.operators.classify import naive_bayes_classify
    from semantik_spark.operators.metrics import cohens_kappa

    docs = _t(spark, sf_dir, "documents")
    pred = naive_bayes_classify(docs.where(F.col("doc_id") % 5 != 0),
                                docs.where(F.col("doc_id") % 5 == 0),
                                label_col="lang")
    return cohens_kappa(pred, "label", "predicted")



def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau over the daily-count ACF per event type
    (timeseries.ljung_box, Ljung & Box 1978): Q = n(n+2) sum r^2/(n-k)
    on the {1,2,7} lag set vs the df=3 critical value — the
    any-autocorrelation-left gate for residual/whiteness checks."""
    from semantik_spark.operators.timeseries import ljung_box

    return ljung_box(_events(spark, sf_dir), lags=(1, 2, 7))



def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC by rank-sum (metrics.roc_auc_exact, Hanley &
    McNeil 1982): how well the English-stopword ratio separates
    English from non-English docs — threshold-free, tie-exact, no
    curve materialized."""
    from semantik_spark.operators.metrics import roc_auc_exact
    from semantik_spark.operators.textanalysis import quality_features

    docs = _t(spark, sf_dir, "documents")
    scored = (
        quality_features(docs)
        .select("doc_id", F.round("stopword_ratio", 6).alias("v"))
        .join(docs.select("doc_id",
                          (F.col("lang") == "en").cast("int").alias("y")),
              "doc_id")
    )
    return roc_auc_exact(scored, "v", "y")



def q_pacf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation via Durbin-Levinson
    (timeseries.pacf_daily, Durbin 1960): the AR-order selector over
    the daily-count ACF at lags 1..7 — pico-quantized recursion,
    driver-local on the alphabet-bounded ACF table, both engines
    replaying identical steps."""
    from semantik_spark.operators.timeseries import pacf_daily

    return pacf_daily(_events(spark, sf_dir), max_lag=7)



def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test
    (stattests.brown_forsythe, 1974): one-way F over |x - median_g|
    across event types — the robust heteroscedasticity gate before any
    pooled-variance comparison."""
    from semantik_spark.operators.stattests import brown_forsythe

    return brown_forsythe(_events(spark, sf_dir), "event_type", "value")


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR result diversification (search.mmr_diversify, Carbonell &
    Goldstein 1998): the BM25 top-16 pool per query greedily re-ranked
    at lambda=0.5 so each pick trades relevance against mock-embedding
    similarity to what's already shown — the redundancy fix for result
    lists full of near-copies. Greedy trajectory ranks on
    micro-quantized objectives (doc_id tiebreak), so the oracle's
    8-step unrolled replay hash-matches exactly."""
    from semantik_spark.functions.vectors import mock_embedding
    from semantik_spark.operators.search import mmr_diversify

    docs = _t(spark, sf_dir, "documents")
    pool = (
        bm25.search(docs, _queries_df(spark, SEARCH_QUERIES), k=16)
        .join(docs.select("doc_id", mock_embedding("text").alias("e")),
              "doc_id")
        .select("query_id", "doc_id", F.col("score").alias("rel"), "e")
    )
    return mmr_diversify(pool, k=8, lambda_milli=500)


def q_lm_dirichlet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood top-k with Dirichlet smoothing
    (bm25.lm_dirichlet_search, Zhai & Lafferty 2001) — the
    language-modeling retrieval family next to BM25/dense/SPLADE/
    MaxSim: collection-frequency smoothing + a length prior instead of
    idf + tf saturation, a genuinely different ranking from the same
    one-pass index shape."""
    res = bm25.lm_dirichlet_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=10, mu=300.0,
    )
    return _r6(res, "score")


def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 extractor: TF-IDF top-5 keywords per document."""
    return extract.keywords(_t(spark, sf_dir, "documents"), top_k=5)


def q_spell_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-term spell correction ("did you mean"): deterministic
    typos (top-20 df vocab terms of length >= 5 with their 2nd char
    dropped) recovered against the corpus vocabulary via the
    deletion-neighborhood candidate join + df-ranked pick
    (search.spell_suggestions, FastSS blocking)."""
    docs = _t(spark, sf_dir, "documents")
    terms = bm25.term_stats(bm25.tokenize(docs))
    typos = (
        terms.where(F.length("term") >= 5)
        .orderBy(F.desc("df"), F.asc("term")).limit(20)
        .select(
            F.concat(F.substring("term", 1, 1),
                     F.expr("substring(term, 3)")).alias("word")
        )
    )
    return search.spell_suggestions(docs, typos, k=1)


def q_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector rerank (ColBERT MaxSim, Khattab &
    Zaharia 2020): BM25 top-20 candidates rescored token-against-token
    — sum over query-token positions of the max doc-token embedding
    dot — Column expressions end to end, MaxSim never touches the
    corpus (search.maxsim_rerank). The third retrieval-model family
    next to single-vector dense and sparse."""
    return search.maxsim_rerank(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=5, first_k=20,
    )


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau 2004): window-2
    co-occurrence word graph + weighted PageRank with decimal-exact
    per-edge contributions (extract.textrank_keywords) — the
    graph-centrality complement to TF-IDF keywords."""
    return extract.textrank_keywords(_t(spark, sf_dir, "documents"),
                                     top_k=20, iterations=5)


def q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 extractor: regex entity mentions per document. The synthetic
    corpus text is entity-free, so a deterministic entity-bearing
    suffix (same expression in the oracle) is appended — the check
    exercises every pattern class on real rows."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Reported By Agent Smith user"),
            F.col("doc_id").cast("string"), F.lit("@example.com on 2026-01-15 rev 42 see https://docs.example/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return extract.entities(docs)


def q_hyde_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 HyDE: dense branch embeds the hypothetical passage, sparse
    branch the original query, RRF fuses (deterministic generator)."""
    res = hyde.hyde_hybrid_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES),
        k=10, search_k=20,
    )
    return _r6(res, "score", "dense_score", "sparse_score")


def q_splade_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 SPLADE (test-mode encoder): learned-sparse dot-product top-k."""
    return splade.search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), k=10
    )


def q_dense_mock_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = search.mock_dense_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), k=10
    ).select("query_id", "doc_id", "score", "rank")
    return _r6(res, "score")


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = search.hybrid_search(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), k=10, search_k=20
    )
    return _r6(res, "score", "dense_score", "sparse_score")


def _ir_inputs(spark: SparkSession, sf_dir: str, k: int = 10):
    docs = _t(spark, sf_dir, "documents")
    qdf = _queries_df(spark, IR_QUERY_TERMS)
    # one tokenization pass shared by the retrieval pipeline and the
    # synthetic qrels below (bm25.search would otherwise re-tokenize)
    tok = cache(bm25.tokenize(docs))
    retrieved = bm25.search(docs, qdf, k=k, tokenized=tok).select(
        "query_id", "doc_id", "rank"
    )
    tf = (
        tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    qterms = qdf.select("query_id", F.col("query_text").alias("term"))
    qrels = tf.join(qterms, "term").select(
        "query_id", "doc_id", F.least(F.lit(3), F.col("tf")).alias("grade")
    )
    return retrieved, qrels


def q_ir_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    retrieved, qrels = _ir_inputs(spark, sf_dir)
    return _r6(metrics.evaluate(retrieved, qrels, (5, 10)), "value")


def q_ir_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    retrieved, qrels = _ir_inputs(spark, sf_dir)
    return _r6(metrics.aggregate_metrics(metrics.evaluate(retrieved, qrels, (5, 10))), "value")


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_aug_docs(spark, sf_dir)).select(
        "content_hash", "n_docs", "keep_doc_id"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = dedup.ngram_jaccard_pairs(_aug_docs(spark, sf_dir), n=3, threshold=0.5)
    return _r6(res, "jaccard")


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-coefficient (containment) near-dups — the
    subset/superset detector Jaccard structurally misses: a short doc
    embedded in a long wrapper scores containment 1.0 but Jaccard
    |A|/|B| (dedup.ngram_containment_pairs, Broder's second
    resemblance measure; exact integer threshold compare)."""
    return dedup.ngram_containment_pairs(_aug_docs(spark, sf_dir),
                                         n=3, threshold=0.8)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = dedup.minhash_lsh_pairs(_aug_docs(spark, sf_dir), num_hashes=16, bands=4, n=3, threshold=0.5)
    return _r6(res, "jaccard")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs → connected components (iterative min-label
    propagation) → per-cluster survivor selection."""
    return dedup.duplicate_clusters(
        _aug_docs(spark, sf_dir), num_hashes=16, bands=4, n=3, threshold=0.5
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-blocked simhash near-dup pairs over the augmented duplicate
    corpus. Banding (max_hamming+1 bit-bands) is exactly complete by
    pigeonhole, so the all-pairs DuckDB oracle agrees row-for-row."""
    return dedup.simhash_pairs(_aug_docs(spark, sf_dir), max_hamming=3)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    res = dedup.embedding_dup_pairs(emb.unionByName(dups), threshold=0.99)
    return _r6(res, "cos")


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _emb_split(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return corpus, queries


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.knn_bruteforce(corpus, queries, k=5), "cos")


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.knn_lsh(corpus, queries, k=5, dim=64, nbits=8), "cos")


def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase int8-quantized search: approximate rank on the narrow
    reconstructed codes, exact rescore of survivors only."""
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.knn_quantized(corpus, queries, k=5, rescore_k=20), "cos")


def q_knn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization ANN: 1 bit/dim packed into 32-bit
    words (32× smaller than float32 — the extreme point of the
    reference's float32/16/int8 quantization ladder, models.py:261),
    Hamming-ascending candidate generation via xor+bit_count
    intrinsics, exact cosine rescore of 20 survivors per query
    (operators/similarity.py knn_binary, Charikar 2002 sign-bound)."""
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.knn_binary(corpus, queries, k=5, rescore_k=20, dim=64), "cos")


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation sweep (Kusupati et al. 2022): recall@10 of
    prefix-truncated cosine top-k at dims 8/16/32/64 vs the full-dim
    exact — the storage/recall trade measurement for truncated serving
    (operators/similarity.py matryoshka_recall)."""
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.matryoshka_recall(corpus, queries, k=10), "recall")


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(similarity.knn_ivf(corpus, queries, k=5, n_centroids=16, nprobe=4), "cos")


def q_knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS's train-vs-add split as a query contract: the codebook is
    FROZEN on the base corpus (every 5th vector held out), the held-out
    rows are then ADDED under that codebook, and the probe serves
    base ∪ appended — the semantics serving.ivf_append materializes on
    disk. The oracle trains its Lloyd replay on the same base subset
    (oracles.q_knn_ivf train_table='base')."""
    from semantik_spark.operators.similarity import ivf_centroids, ivf_refine

    corpus, queries = _emb_split(spark, sf_dir)
    base = corpus.where(F.col("vec_id") % 5 != 0)
    cent = ivf_refine(base, ivf_centroids(base, 16), iters=1)
    return _r6(
        similarity.knn_ivf(corpus, queries, k=5, nprobe=4, cent_rows=cent),
        "cos",
    )


def q_knn_ivf_sample_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-training-cost curve for sampled codebook training
    (VERDICT r8 item 7): recall@5 with the codebook trained on the
    full corpus (mod 1), a ~1/3 hash sample (mod 3) and a ~1/10 sample
    (mod 10), all served at nprobe=4 over the FULL corpus under the
    frozen codebook. The 100 TB build-path knob gets a measured curve
    like nprobe does (knn_nprobe_sweep) — SCALE.md documents how to
    choose mod from it. One exhaustive baseline, cached; three
    trainings, each over only its sample."""
    from semantik_spark.functions.caching import cache
    from semantik_spark.operators import similarity

    corpus, queries = _emb_split(spark, sf_dir)
    exact = cache(similarity.knn_bruteforce(corpus, queries, k=5))

    def _train(smod: int | None):
        return lambda: similarity.ivf_refine(
            corpus, similarity.ivf_centroids(corpus, 16, train_sample_mod=smod),
            iters=1, train_sample_mod=smod)

    # the three sampled trainings are INDEPENDENT driver-interactive
    # loops (seed collect + Lloyd collect each) — overlap them (guide
    # §2.6) so the sweep's wall is max(training) not sum; each codebook
    # is bit-identical to its sequential run (separate inputs, no
    # shared state), and the serve/recall plan below is built in mod
    # order from the in-call-order results
    cents = concurrently(*[_train(None if m == 1 else m) for m in (1, 3, 10)])
    out = None
    for mod, cent in zip((1, 3, 10), cents):
        approx = similarity.knn_ivf(corpus, queries, k=5, nprobe=4,
                                    cent_rows=cent)
        r = similarity.recall_at_k(exact, approx, f"sample_mod={mod}") \
            .withColumn("sample_mod", F.lit(mod).cast("int")) \
            .select("method", "sample_mod", "n_hit", "n_exact", "recall")
        out = r if out is None else out.unionByName(r)
    return out


def q_ivf_codebook_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-drift detection + retrain trigger for frozen-codebook
    IVF appends (similarity.ivf_assignment_drift, VERDICT r9 item 4):
    codebook trained on base (corpus minus the vec_id%5==0 fifth);
    the held-out fifth arrives as an append batch either
    ABS-TRANSFORMED (a real distribution shift) or untouched; PSI over
    the per-cell assignment histograms of the BATCH vs the build-time
    corpus under the frozen codebook. Both scenarios are emitted so
    the detector's discrimination is itself hash-pinned: the drifted
    batch fires retrain_needed (PSI ≈ 1.6 ≫ 0.2), the in-distribution
    batch does not (≈ 0.15). The operational knob knn_ivf_append left
    open: WHEN to blue/green-retrain (maintenance.bluegreen is the
    swap; reference reindex webui/tasks/reindex.py:275-304)."""
    corpus, _ = _emb_split(spark, sf_dir)
    base = corpus.where(F.col("vec_id") % 5 != 0)
    held = corpus.where(F.col("vec_id") % 5 == 0)
    drifted = held.select(
        "vec_id",
        F.transform("embedding", lambda x: F.abs(x)).alias("embedding"))
    cent = similarity.ivf_refine(
        base, similarity.ivf_centroids(base, 16), iters=1)
    # the build-time histogram is ONE artifact shared by every batch
    # check (the operator's sync-loop contract) — built once here and
    # passed to both calls; inside the single action Catalyst
    # deduplicates the shared subtree (ReusedExchange), so no cache
    # boundary is needed (a cache would add materialization jobs and
    # break stage fusion — measured 15 vs 7 jobs)
    ref_hist = similarity.ivf_cell_histogram(base, cent)
    out = None
    for label, batch in (("drifted", drifted), ("in_distribution", held)):
        r = (similarity.ivf_assignment_drift(None, batch, cent,
                                             ref_hist=ref_hist)
             .withColumn("batch", F.lit(label)))
        out = r if out is None else out.unionByName(r)
    return out.select("batch", "centroid_id", "n_ref", "n_cur",
                      "psi_term", "psi_total", "retrain_needed")


def q_ivf_retrain_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain trigger's PAYOFF as a hash-pinned driver row
    (companion to ivf_codebook_drift, VERDICT r9 item 4): recall@5 on
    the drifted workload (abs-transformed queries) over combined =
    base ∪ abs-drifted fifth, served under the STALE codebook (trained
    on base — what ivf_codebook_drift flags) vs the FRESH one
    (blue/green retrained on combined). Fresh restores the recall the
    frozen codebook lost: 0.86 → 1.0 at sf0.001, hash-pinned by the
    oracle replay of both trainings (tests/test_similarity.py and
    tests/test_maintenance.py assert the direction — stale < 1.0,
    fresh == 1.0 — not the point value, which is data-dependent)."""
    corpus, base_queries = _emb_split(spark, sf_dir)
    base = corpus.where(F.col("vec_id") % 5 != 0)
    drifted = corpus.where(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: F.abs(x)).alias("embedding"))
    combined = base.unionByName(drifted)
    # the drifted WORKLOAD: the standard query split, abs-transformed
    # to match the shifted distribution
    queries = base_queries.select(
        "query_id",
        F.transform("query_vec", lambda x: F.abs(x)).alias("query_vec"))
    exact = cache(similarity.knn_bruteforce(combined, queries, k=5))

    def _train(train_df):
        return lambda: similarity.ivf_refine(
            train_df, similarity.ivf_centroids(train_df, 16), iters=1)

    # stale (base) and fresh (combined) trainings are independent —
    # overlap their driver-interactive loops (guide §2.6); codebooks
    # bit-identical to the sequential runs, plan order preserved
    cents = concurrently(_train(base), _train(combined))
    out = None
    for (label, _), cent in zip((("stale", base), ("fresh", combined)), cents):
        approx = similarity.knn_ivf(combined, queries, k=5, nprobe=4,
                                    cent_rows=cent)
        r = similarity.recall_at_k(exact, approx, label)
        out = r if out is None else out.unionByName(r)
    return out


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: m=8 one-byte codes per vector (32×
    storage cut), ADC-equivalent reconstructed-cosine phase 1, exact
    rescore of 20 survivors per query (operators/similarity.py knn_pq,
    Jégou et al. 2011 PQ)."""
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(
        similarity.knn_pq(corpus, queries, k=5, dim=64, m=8,
                          n_centroids=16, rescore_k=20),
        "cos",
    )


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011): IVF coarse cells + product
    quantization of the residual, ADC scoring inside the 4 probed
    cells only, exact rescore of 20 survivors
    (similarity.knn_ivfpq) — the FAISS IndexIVFPQ composition, with
    BOTH trainings replayed bit-for-bit by the DuckDB oracle."""
    corpus, queries = _emb_split(spark, sf_dir)
    return _r6(
        similarity.knn_ivfpq(corpus, queries, k=5, dim=64, n_centroids=16,
                             nprobe=4, m=8, pq_centroids=16, rescore_k=20),
        "cos",
    )


def q_knn_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVFADC serve (serving.write_ivfpq_index +
    ivfpq_serve — VERDICT r6 item 5): the FAISS-IndexIVFPQ on-disk
    layout ((cell, m positional codes) partitioned by centroid_id +
    codebook sidecars), probed-cells-only partition-pruned ADC scan,
    exact rescore via candidate-id pushdown on the full-precision
    table (the reference two-phase fetch,
    vecpipe/search/dense_search.py). Row-identical to knn_ivfpq at
    equal parameters, so the oracle replays the same training."""
    import shutil

    from semantik_spark.operators import serving

    corpus, queries = _emb_split(spark, sf_dir)
    base = _scratch("ivfpq_idx")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    serving.write_ivfpq_index(corpus, base, dim=64, n_centroids=16, m=8,
                              pq_centroids=16, refine_iters=1)
    return _r6(
        serving.ivfpq_serve(spark, base, queries, k=5, nprobe=4,
                            rescore_k=20),
        "cos",
    )


def q_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile over the embedding corpus — the same
    deterministic Lloyd codebook the IVF index trains, surfaced as a
    per-cluster coherence report (operators/similarity.py
    cluster_profile)."""
    corpus, _ = _emb_split(spark, sf_dir)
    return similarity.cluster_profile(corpus, n_centroids=16, refine_iters=1)


def q_embedding_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering of the embedding corpus: DBSCAN over the
    deterministic 2-D JL sketch (projection.dbscan_projected, Ester et
    al. 1996) — arbitrary-shape clusters + an explicit noise label,
    the family k-means (doc_clusters) cannot express; dense pockets on
    a near-dup-planted corpus are the duplicate neighborhoods. Exact
    integer micro-unit distances, grid-blocked candidate equi-join
    (recall-exact by the 3×3 pigeonhole), min-label CC, border points
    deterministically assigned to the min core neighbor."""
    from semantik_spark.operators.projection import dbscan_projected

    return dbscan_projected(_t(spark, sf_dir, "embeddings"),
                            eps_micro=50_000, min_pts=4)


def q_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max weighted hybrid fusion (w=0.5) over the same dense+BM25
    branch searches hybrid_rrf uses (operators/search.py
    weighted_fusion) — the calibrated-score alternative to RRF."""
    docs = _t(spark, sf_dir, "documents")
    qs = _queries_df(spark, SEARCH_QUERIES)
    dense = search.mock_dense_search(docs, qs, k=20)
    sparse_df = bm25.search(docs, qs, k=20)
    return search.weighted_fusion(dense, sparse_df, k=10, w_dense=0.5)


def q_doc_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scan: vectors more than 1 sample stddev
    BELOW their own cluster's mean assignment cosine (operators/
    similarity.py embedding_outliers — the mis-embedded/garbage-vector
    curation pass; the synthetic uniform embeddings have thin tails, so
    the demo threshold sits at -1.0 where production text corpora use
    -2to -3)."""
    corpus, _ = _emb_split(spark, sf_dir)
    return similarity.embedding_outliers(corpus, n_centroids=16,
                                         refine_iters=1, z_threshold=-1.0)


def q_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the projection atlas's per-cluster keyword
    labels (reference webui/tasks/projection.py builds these client-
    side) as a distributed operator: assign docs to seeded mock-
    embedding centroids, count BM25 tokens per cluster, rank terms by
    the distinctiveness score tf·ln(1 + n_clusters/ncw) (tf weighted by
    inverse cluster frequency) and keep the top 5 per cluster."""
    from semantik_spark.functions.vectors import mock_embedding
    from semantik_spark.operators.similarity import (
        _codebook_df, _nearest_centroids, ivf_centroids,
    )

    n_clusters, top_terms = 8, 5
    docs = _t(spark, sf_dir, "documents")
    emb = docs.select(
        "doc_id", mock_embedding("text").cast("array<double>").alias("embedding")
    )
    cent_rows = ivf_centroids(emb, n_clusters, "doc_id", "embedding")
    codebook = F.broadcast(_codebook_df(spark, cent_rows))
    best = F.array_max(_nearest_centroids("v"))
    assigned = (
        emb.select("doc_id", F.col("embedding").alias("v"))
        .crossJoin(codebook)
        .select("doc_id", (-best["negcid"]).alias("centroid_id"))
    )
    terms = bm25.tokenize(docs).select("doc_id", F.explode("tokens").alias("term"))
    ct = (
        terms.join(assigned, "doc_id")
        .groupBy("centroid_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    cw = ct.groupBy("term").agg(
        F.count_distinct("centroid_id").cast("bigint").alias("n_clusters_with_term")
    )
    sc = ct.join(cw, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(1.0) + F.lit(float(n_clusters)) / F.col("n_clusters_with_term")), 6),
    )
    w = Window.partitionBy("centroid_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_terms)
        .select("centroid_id", "term", "tf", "n_clusters_with_term", "score", "rank")
    )


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (operators/linkage.py, the
    Fellegi-Sunter machinery): a deterministic DIRTY copy of every 7th
    customer (last two name characters transposed, balance truncated —
    the classic data-entry noise) is linked back against the clean
    table. Blocking = (nation, name digit-sum) — the digit-sum key is
    transposition-invariant, so blocking never loses the true pair;
    scoring = integer milli-unit agreement weights on name edit
    distance + balance proximity, threshold 3000. Transposition
    COLLISIONS (a dirty name that exactly equals a different real
    customer, e.g. …123 ↔ …132) legitimately link too — that ambiguity
    is the entity-resolution problem, reproduced deterministically.
    One equi-join on the block key, never |A|·|B| (plan-asserted)."""
    from semantik_spark.operators.linkage import blocked_linkage, digit_sum

    cust = _t(spark, sf_dir, "customer")
    clean = cust.select(
        "c_nationkey", F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("value"),
    ).withColumn("dsum", digit_sum("name"))
    n = F.length("c_name")
    swapped = F.concat(
        F.substring(F.col("c_name"), F.lit(1), n - 2),
        F.substr(F.col("c_name"), n, F.lit(1)),
        F.substr(F.col("c_name"), n - 1, F.lit(1)),
    )
    dirty = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_nationkey",
        (F.col("c_custkey") + F.lit(1_000_000)).alias("rec_id"),
        swapped.alias("name"),
        F.floor("c_acctbal").cast("double").alias("value"),
    ).withColumn("dsum", digit_sum("name"))
    return blocked_linkage(
        clean, dirty, ["c_nationkey", "dsum"],
        name_col="name", value_col="value", id_col="rec_id", threshold=3000,
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (pii.k_anonymity_report, Sweeney 2002) over
    the quasi-identifiers (nation, market segment, balance band):
    every equivalence class with its size, the at-risk flag
    (size < k=5), and the dataset's achieved k (min class size,
    broadcast). The compliance complement to pii_redact: redaction
    strips direct identifiers, this measures what the remaining
    attributes still leak in combination. The balance band is
    EQUI-WIDTH from a 1-row min/max broadcast — map-only binning (a
    global ntile would single-partition the whole table; generalizing
    a quasi-identifier doesn't need equi-depth)."""
    from semantik_spark.operators.pii import k_anonymity_report

    cust = _t(spark, sf_dir, "customer")
    span = cust.agg(F.min("c_acctbal").alias("_lo"),
                    F.max("c_acctbal").alias("_hi"))
    binned = cust.crossJoin(F.broadcast(span)).withColumn(
        "bal_band",
        F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(9),
                F.floor((F.col("c_acctbal") - F.col("_lo")) * 10.0
                        / (F.col("_hi") - F.col("_lo"))),
            )
        ).cast("int"),
    ).drop("_lo", "_hi")
    return k_anonymity_report(
        binned, ["c_nationkey", "c_mktsegment", "bal_band"], k=5)


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join, bucket-blocked (timeseries.
    interval_overlap_join — the batch twin of the stream-stream
    interval join): every user session (gap-based, 30 min) that
    overlaps one of the 5 busiest calendar days, with the exact
    overlap in integer microseconds. The theta-join (s1<=e2 AND
    s2<=e1) runs as an equi-join on covered day buckets; the range
    predicate only verifies candidates (pigeonhole-complete — no
    cartesian, plan-asserted)."""
    from semantik_spark.operators.timeseries import interval_overlap_join

    ev = _events(spark, sf_dir)
    sess = sessionize(ev, gap_minutes=30).select(
        "user_id", "session_id",
        F.unix_micros("session_start").alias("l_start_us"),
        F.unix_micros("session_end").alias("l_end_us"),
    )
    busy = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("_n"))
        .orderBy(F.desc("_n"), F.asc("day")).limit(5)
        .select(
            F.col("day").cast("string").alias("day"),
            F.unix_micros(F.col("day").cast("timestamp")).alias("r_start_us"),
            (F.unix_micros(F.col("day").cast("timestamp"))
             + F.lit(86_399_999_999)).alias("r_end_us"),
        )
    )
    out = interval_overlap_join(sess, busy)
    return out.select("user_id", "session_id", "day", "overlap_us")


def q_interval_overlap_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_interval_overlap with the heavy-tail escape armed
    (long_factor=4, hour-grained fine buckets): sessions longer than 4
    hours route to the coarse level instead of replicating once per
    covered hour. Same oracle as interval_overlap — the driver hash
    match proves two-level == one-level == the raw theta join at SF
    (the operator-level pin lives in tests/test_timeseries.py)."""
    from semantik_spark.operators.timeseries import interval_overlap_join

    ev = _events(spark, sf_dir)
    sess = sessionize(ev, gap_minutes=30).select(
        "user_id", "session_id",
        F.unix_micros("session_start").alias("l_start_us"),
        F.unix_micros("session_end").alias("l_end_us"),
    )
    busy = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("_n"))
        .orderBy(F.desc("_n"), F.asc("day")).limit(5)
        .select(
            F.col("day").cast("string").alias("day"),
            F.unix_micros(F.col("day").cast("timestamp")).alias("r_start_us"),
            (F.unix_micros(F.col("day").cast("timestamp"))
             + F.lit(86_399_999_999)).alias("r_end_us"),
        )
    )
    out = interval_overlap_join(
        sess, busy, bucket_us=3_600_000_000, long_factor=4)
    return out.select("user_id", "session_id", "day", "overlap_us")


def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-type DAILY count series at
    lags 1/2/7 over a densified calendar (timeseries.acf_daily) — the
    seasonality detector feeding the seasonal-naive forecaster's lag
    choice. Numerator/denominator carried exactly in cleared-
    denominator integer decimals; one double division at the end."""
    from semantik_spark.operators.timeseries import acf_daily

    return acf_daily(_events(spark, sf_dir), lags=(1, 2, 7))


def q_approx_distinct_hll_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PACKED HLL serving path end-to-end (sketches.hll_pack /
    hll_merge_packed / hll_estimate_packed): events are split into two
    disjoint shards by user-hash parity, each shard's register table is
    compacted to ONE array<tinyint> row per group, the two packed
    sketches merge by zip_with register-max (the lattice), and the
    estimate folds inside the array (F.aggregate, JVM-side). The oracle
    is the ROW-FORM batch SQL — a hash match proves shard→pack→merge→
    estimate == batch, the whole algebra the catalog-stats use case
    (millions of groups, one ~m-byte blob each) relies on."""
    from semantik_spark.operators import sketches
    from semantik_spark.functions.hashing import hash60

    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    parity = F.pmod(hash60(F.col("user_id")), F.lit(2))
    regs_a = sketches.hll_registers(
        ev.where(parity == 0), "event_type", "user_id", p=8)
    regs_b = sketches.hll_registers(
        ev.where(parity == 1), "event_type", "user_id", p=8)
    merged = sketches.hll_merge_packed(
        sketches.hll_pack(regs_a, p=8), sketches.hll_pack(regs_b, p=8), p=8)
    exact = ev.groupBy(F.col("event_type").alias("event_type")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    return sketches.hll_estimate_packed(
        merged, exact, "event_type", p=8
    ).select("event_type", "v_zero", "sum_scaled", "estimate_milli",
             "n_exact", "rel_error")


def q_sliding_uniques_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per (event_type, day) from DAILY
    HLL register tables — the roll-up story that makes sketches the
    100 TB answer: per-day registers are built ONCE, each day's state
    contributes to its 7 target days by explode + register-wise MAX
    (the union lattice), and the estimate folds per target day. The
    trailing-uniques dashboard without ever re-scanning 7 days of raw
    events; exact trailing distinct alongside, like the other sketch
    queries. Oracle replays registers, merge and estimate bit-for-bit."""
    from semantik_spark.operators import sketches

    ev = (
        _events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "event_type", "user_id")
    )
    days = ev.select("event_type", "day").distinct()
    regs = sketches.hll_registers(
        ev.withColumn("g", F.struct("event_type", "day")), "g", "user_id",
        p=8)
    contrib = regs.select(
        F.col("g.event_type").alias("event_type"),
        F.explode(F.sequence(F.col("g.day"),
                             F.date_add(F.col("g.day"), 6))).alias("t_day"),
        "j", "mj",
    )
    merged = (
        contrib.join(days.select("event_type", F.col("day").alias("t_day")),
                     ["event_type", "t_day"], "left_semi")
        .groupBy("event_type", "t_day", "j")
        .agg(F.max("mj").cast("int").alias("mj"))
    )
    est = sketches.hll_estimate(
        merged.select(F.struct("event_type", "t_day").alias("g"), "j", "mj"),
        exact=None, group_col="g", p=8)
    exact = (
        ev.select("event_type",
                  F.explode(F.sequence(F.col("day"),
                                       F.date_add(F.col("day"), 6)))
                  .alias("t_day"), "user_id")
        .join(days.select("event_type", F.col("day").alias("t_day")),
              ["event_type", "t_day"], "left_semi")
        .groupBy("event_type", "t_day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        est.select(
            F.col("g.event_type").alias("event_type"),
            F.col("g.t_day").cast("string").alias("day"),
            "v_zero", "sum_scaled", "estimate_milli")
        .join(exact.select("event_type",
                           F.col("t_day").cast("string").alias("day"),
                           "n_exact"),
              ["event_type", "day"])
    )


def q_approx_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed KMV: distinct users per (event_type, day) — the
    sketch composed with an event-time bucket, i.e. the daily-uniques
    dashboard query whose per-day sketches also merge upward to weekly/
    monthly uniques for free (KMV union = re-truncated k-smallest)."""
    from semantik_spark.operators import sketches

    ev = _events(spark, sf_dir).withColumn(
        "type_day",
        F.concat_ws("|", F.col("event_type"), F.to_date("ts").cast("string")),
    )
    out = sketches.kmv_distinct(ev, "type_day", "user_id", k=64, n_salts=32)
    sp = F.split(F.col("type_day"), r"\|")
    return out.select(
        sp[0].alias("event_type"), sp[1].alias("day"),
        "n_exact", "n_sketch", "kmv_estimate", "rel_error",
    )


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + CEFR-ish band per document — pure regexp
    aggregates, zero shuffle (operators/textanalysis.py readability)."""
    return textanalysis.readability(_t(spark, sf_dir, "documents"))


def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate fractions (operators/textanalysis.py
    boilerplate_stats): sentences appearing in >= 30% of their source's
    docs are template text, counted per document."""
    return textanalysis.boilerplate_stats(_t(spark, sf_dir, "documents"))


def q_source_mix_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 domain-mixing plan (operators/training.py
    source_mix_temperature — the multilingual-LM up-weighting of small
    sources)."""
    from semantik_spark.operators import training

    return training.source_mix_temperature(_t(spark, sf_dir, "documents"), 0.5)


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring: per-doc mean smoothed conditional
    log-prob + perplexity under the corpus's own bigram model
    (operators/textanalysis.py bigram_logprob)."""
    return textanalysis.bigram_logprob(_t(spark, sf_dir, "documents"))


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing planner: per-source share vs a uniform target and
    the down-sampling rates that realize it (operators/training.py
    source_mix_plan)."""
    from semantik_spark.operators import training

    return training.source_mix_plan(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.language_id(_t(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = textanalysis.quality_features(_t(spark, sf_dir, "documents"))
    return _r6(res, "avg_word_len", "punct_ratio", "digit_ratio", "stopword_ratio", "quality_score")


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.token_counts(_t(spark, sf_dir, "documents"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line / dup-n-gram fractions)
    — map-only per-doc array expressions, no shuffle."""
    return textanalysis.repetition_features(_t(spark, sf_dir, "documents"))


def q_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher-style keep/drop verdict: length + quality +
    repetition rules, first-failing-rule reason."""
    return textanalysis.curation_decision(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textanalysis.fingerprint(_t(spark, sf_dir, "documents"), n=4)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction over a deterministically PII-augmented
    corpus (the synthetic tables carry none) — per-doc hit counts per
    pattern family plus the placeholder-redacted text."""
    from semantik_spark.operators import pii
    return pii.pii_report(pii.inject_synthetic_pii(_t(spark, sf_dir, "documents")))


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality score (CCNet/Gopher perplexity-filter
    shape): per-doc avg token log-probability."""
    return textanalysis.unigram_logprob(_t(spark, sf_dir, "documents"))


def q_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document duplicated-sentence fractions."""
    return dedup.sentence_dedup_stats(_t(spark, sf_dir, "documents"))


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible content-hash train/val/test split."""
    from semantik_spark.operators import training
    return training.dataset_split(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (two-level distributed prefix
    sum; the oracle checks it equals the serial concat order)."""
    from semantik_spark.operators import training
    return training.pack_sequences(_t(spark, sf_dir, "documents"), seq_len=256)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test overlap scrub: bigram collisions vs the eval query
    set (tiny side broadcast)."""
    from semantik_spark.operators import training
    return training.decontaminate(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), n=2
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side contamination view: per eval item, shingle hit counts
    and distinct colliding corpus docs (operators/training.py
    contamination_report — the report you act on when dropping eval
    items; decontaminate is the per-train-doc view)."""
    from semantik_spark.operators import training
    return training.contamination_report(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), n=2
    )


def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted importance sampling (integer
    hash-residue vs integer-scaled keep probability)."""
    from semantik_spark.operators import training
    return training.quality_sample(_t(spark, sf_dir, "documents"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source cap sampling: stratum rate = min(1,
    target/n_s), deterministic hash-residue keep (training-mix
    balancing; operators/training.py stratified_sample)."""
    from semantik_spark.operators import training
    return training.stratified_sample(_t(spark, sf_dir, "documents"),
                                      target_per_stratum=50)


def q_curated_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composed curation verdict — what actually ships to training:
    every document of the augmented corpus through three gates in
    fixed first-failing order — (1) the Gopher rule battery, (2)
    per-source calibrated quality percentile < 0.1, (3) non-canonical
    member of a near-dup cluster — emitting keep/reason per doc. Each
    gate is an already-oracle-checked operator (gopher_rules,
    calibrate_scores, canonical_docs); this query pins their
    COMPOSITION, the end-to-end pipeline integration the individual
    rows can't."""
    from semantik_spark.operators.textanalysis import (
        gopher_rules, quality_features,
    )
    from semantik_spark.operators.training import calibrate_scores

    docs = _t(spark, sf_dir, "documents")
    aug = _aug_docs(spark, sf_dir)
    orig = F.when(F.col("doc_id") >= 10000,
                  F.col("doc_id") - 10000).otherwise(F.col("doc_id"))
    srcs = aug.select("doc_id", orig.alias("_orig")).join(
        docs.select(F.col("doc_id").alias("_orig"), "source"), "_orig"
    ).select("doc_id", "source")
    g = gopher_rules(aug).select(
        "doc_id", F.col("reason").alias("gopher_reason"))
    # quality_features feeds BOTH the calibration gate and canonical
    # selection — compute the per-doc feature scan once and share it
    qf = cache(quality_features(aug))
    cal = calibrate_scores(qf.join(srcs, "doc_id"))
    can = dedup.canonical_docs(aug, qf).select(
        "doc_id", "cluster_id", "is_canonical")
    reason = (
        F.when(F.col("gopher_reason") != "ok",
               F.concat(F.lit("gopher:"), F.col("gopher_reason")))
        .when(F.col("calibrated") < 0.1, F.lit("low_quality"))
        .when(~F.col("is_canonical"), F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return (
        cal.join(can, "doc_id").join(g, "doc_id")
        .select("doc_id", "source", "calibrated", "cluster_id",
                "is_canonical", reason.alias("reason"),
                (reason == "kept").alias("keep"))
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection over the augmented dup corpus:
    MinHash clusters + quality scores → one canonical doc per cluster
    (highest quality, tie → min doc_id)."""
    from semantik_spark.operators.textanalysis import quality_features

    aug = _aug_docs(spark, sf_dir)
    return dedup.canonical_docs(aug, quality_features(aug))


def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance (dedup.incremental_components):
    the near-dup pair stream arrives in TWO deterministic batches
    (hash-parity split); each folds into the persisted (node,
    component) state as star edges + new edges — per-batch cost
    O(state + batch), old edges never replayed. The final state is
    provably the batch CC over all pairs for any split, so the oracle
    is dedup_clusters' recursive transitive closure unchanged."""
    import shutil

    base = _scratch("inc_cc")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    pairs = dedup.minhash_lsh_pairs(_aug_docs(spark, sf_dir),
                                    num_hashes=16, bands=4, n=3,
                                    threshold=0.5).localCheckpoint()
    split = (hash60(F.concat_ws(":", "doc_a", "doc_b")) % 2)
    state = None
    for b in (0, 1):
        state = dedup.incremental_components(
            spark, f"{base}/state", pairs.where(split == b)
        )
    w = Window.partitionBy("cluster_id")
    return (
        state.select(F.col("node").alias("doc_id"),
                     F.col("component").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring contamination (Lee et al. 2022 k-gram
    fingerprints): per-doc duplicated-k-token-window fractions over the
    augmented dup corpus."""
    return dedup.repeated_passages(_aug_docs(spark, sf_dir), k=10)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup span output (Lee et al. 2022 ExactSubstr):
    repeated k-token windows merged into maximal per-doc token ranges —
    the actual cut list a dedup pass would apply
    (operators/dedup.py duplicate_spans)."""
    return dedup.duplicate_spans(_aug_docs(spark, sf_dir), k=10)


def q_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after exact-substring dedup (Lee et al. 2022
    §3.1): every duplicated k-token span (dedup_spans) removed from
    every document — the cut applied, not just listed
    (operators/dedup.py cut_spans)."""
    return dedup.cut_spans(_aug_docs(spark, sf_dir), k=10)


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy + top-char mass per document —
    the model-free degenerate-text detector (mash/base64/padding sit
    far from natural text's ~4-4.5 bits/char); -p*log2(p) terms round
    to 8dp DECIMAL before the per-doc sum so the score is order-free
    (textanalysis.char_entropy)."""
    from semantik_spark.operators.textanalysis import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab induction: top-200 tokens by collection
    frequency with contiguous (freq DESC, term ASC) ids."""
    return textanalysis.build_vocab(_t(spark, sf_dir, "documents"), size=200)


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top-50 adjacent bigrams by PMI (Church &
    Hanks 1990), min pair count 5; ranked on the rounded PMI so the
    cut is engine-identical."""
    return textanalysis.collocations(_t(spark, sf_dir, "documents"),
                                     min_count=5, top_k=50)


def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash shard assignment + per-doc token counts —
    the terminal sharded-output step of the training pipeline
    (training.write_shards writes these partitions; the assignment is
    the oracle-checkable part)."""
    from semantik_spark.operators import training
    return training.shard_assignments(_t(spark, sf_dir, "documents"), n_shards=16)


# ---------------------------------------------------------------------------
# chunking / pipeline ops
# ---------------------------------------------------------------------------

def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.fixed_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=200, overlap=50
    ).select("doc_id", "chunk_id", "chunk_index", "content",
             "start_offset", "end_offset", "token_count", "total_chunks")


def q_chunk_character(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.character_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=200, overlap=50
    ).select("doc_id", "chunk_id", "chunk_index", "content",
             "start_offset", "end_offset", "token_count", "total_chunks")


def q_chunk_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.recursive_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=200
    ).select("doc_id", "chunk_id", "chunk_index", "content", "token_count", "total_chunks")


def q_chunk_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.markdown_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=400
    ).select("doc_id", "chunk_id", "chunk_index", "content", "token_count", "total_chunks")


def q_sparse_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 sparse sink rows, flattened: doc_id, pos (position in the
    ascending-term_id array), term_id, weight (6dp). posexplode of the
    array form verifies sparse_vectors' sort order hash-exactly."""
    tok = cache(bm25.tokenize(_t(spark, sf_dir, "documents")))
    stats = bm25.corpus_stats(tok)
    post = bm25.postings(tok, bm25.term_stats(tok, stats), stats)
    sv = bm25.sparse_vectors(post)
    return sv.select(
        "doc_id",
        F.posexplode(F.arrays_zip("sparse_indices", "sparse_values")).alias("pos", "iv"),
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("iv.sparse_indices").alias("term_id"),
        F.round(F.col("iv.sparse_values"), 6).alias("weight"),
    )


def q_predicate_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = {"lang": ["en", "de"], "n_chars": ">300", "source": "src1*"}
    docs = _t(spark, sf_dir, "documents")
    return docs.where(compile_predicate(pred)).select("doc_id", "lang", "source", "n_chars")


def q_incremental_changed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 change-detection anti-join: re-enumeration vs catalog by
    content_hash (executor.py:713-744)."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id", content_hash("text").alias("old_hash")
    )
    new = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")).alias("text2"),
    ).select("doc_id", content_hash("text2").alias("new_hash"))
    return (
        new.join(old, "doc_id", "left")
        .where(F.col("old_hash").isNull() | (F.col("new_hash") != F.col("old_hash")))
        .select(
            "doc_id",
            F.when(F.col("old_hash").isNull(), F.lit("new")).otherwise(F.lit("modified")).alias("change_type"),
        )
    )


def q_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4+W3: hybrid first stage at candidate_k, token-overlap mock
    cross-encoder rerank back to k."""
    res = rerank.search_with_rerank(
        _t(spark, sf_dir, "documents"), _queries_df(spark, SEARCH_QUERIES), k=10
    )
    return _r6(res, "rerank_score")


def q_multi_collection_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: per-collection mock-dense search → union → global top-k."""
    docs = _t(spark, sf_dir, "documents")
    colls = {
        "colA": docs.where(F.col("doc_id") % 2 == 0),
        "colB": docs.where(F.col("doc_id") % 2 == 1),
    }
    res = rerank.multi_collection_search(
        colls, _queries_df(spark, SEARCH_QUERIES), k=10,
        search_fn=lambda d, q, kk: search.mock_dense_search(d, q, k=kk),
    )
    return _r6(res, "score")


def q_chunk_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 first-hit chunk→doc collapse over a deterministic pseudo
    retrieval (hash-ranked fixed chunks)."""
    chunks = chunking.fixed_chunks(_t(spark, sf_dir, "documents"), chunk_size=200, overlap=50)
    qs = _queries_df(spark, IR_QUERY_TERMS).select("query_id")
    scored = chunks.select("doc_id", "chunk_id").crossJoin(F.broadcast(qs)).withColumn(
        "h", hash60(F.concat_ws("#", "query_id", "chunk_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("h"), F.asc("chunk_id"))
    retrieved = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("query_id", "doc_id", "chunk_id", "rank")
    )
    return metrics.collapse_chunks(retrieved).select(
        "query_id", "doc_id", "chunk_id", "rank"
    )


def q_sniff_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 content sniffers as derived columns, plus the scanned-PDF
    probe: each doc is re-encoded as a deterministic PDF (1 + doc_id%3
    pages; every 4th doc gets NO text layer — the scanned case) and
    sniff_pdf's chars/page verdict must reproduce the construction."""
    from semantik_spark.operators.sniff import sniff_pdf

    docs = _t(spark, sf_dir, "documents")
    n_pages = (F.lit(1) + F.col("doc_id") % 3).cast("int")
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("\\"), F.lit("\\\\")),
            F.lit("("), F.lit("\\("),
        ),
        F.lit(")"), F.lit("\\)"),
    )
    body = F.when(F.col("doc_id") % 4 == 0, F.lit("")) \
        .otherwise(F.concat(F.lit("BT ("), esc, F.lit(") Tj ET\n")))
    pdf_bytes = F.encode(F.concat(
        F.lit("%PDF-1.4\n"),
        F.repeat(F.lit("/Type /Page\n"), n_pages),
        body, F.lit("%%EOF")), "UTF-8")
    pdfs = docs.select(F.col("doc_id").cast("string").alias("uri"),
                       pdf_bytes.alias("content"))
    scanned = sniff_pdf(pdfs).select(
        F.col("uri").cast("bigint").alias("doc_id"), "is_scanned_pdf")
    return sniff_columns(docs).select(
        "doc_id", "is_code", "is_json", "is_xml", "is_yaml", "is_csv", "detected_format"
    ).join(scanned, "doc_id")


def q_collection_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 collection counters refresh: per-source document_count /
    total_size_bytes (models.py:281-287)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("document_count"),
            F.sum("n_chars").cast("bigint").alias("total_size_bytes"),
        )
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = sliding_counts(ev, length_minutes=10, slide_minutes=5)
    return out.select(
        F.unix_micros("window_start").alias("bucket_us"), "event_type", "n"
    )


def q_chunk_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.semantic_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=300
    ).select("doc_id", "chunk_id", "chunk_index", "content",
             "start_offset", "end_offset", "token_count", "total_chunks")


def q_chunk_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.hierarchical_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=400, levels=2
    ).select("doc_id", "chunk_id", "chunk_index", "content", "level",
             "parent_index", "parent_chunk_id", "token_count")


def q_chunk_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunking.hybrid_chunks(
        _t(spark, sf_dir, "documents"), chunk_size=300, overlap=60
    ).select("doc_id", "chunk_id", "chunk_index", "content", "strategy",
             "token_count", "total_chunks")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 quantization levels float32/float16/int8 (the
    Collection.quantization triple, models.py:261) + M6 dim validation:
    per-vector int8 scale, exact integer code checksum, and per-tier
    checksums / max reconstruction errors — all scalars so the oracle
    compares values, not float arrays."""
    from semantik_spark.functions.vectors import (
        dequantize_int8, quantize_float16, quantize_float32, quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = quantize_int8(F.col("v"))
    err = F.array_max(F.zip_with(dequantize_int8(q), F.col("v"),
                                 lambda a, b: F.abs(a - b)))
    f16 = quantize_float16(F.col("v"))
    f32 = quantize_float32(F.col("v"))
    return emb.select(
        "vec_id",
        F.size("v").alias("dim"),
        F.round(q["scale"], 6).alias("scale"),
        F.aggregate(q["codes"], F.lit(0).cast("bigint"),
                    lambda acc, c: acc + c).alias("code_sum"),
        F.round(err, 6).alias("max_err"),
        F.round(F.aggregate(f16, F.lit(0.0), lambda acc, x: acc + x), 6).alias("f16_checksum"),
        F.round(F.array_max(F.zip_with(f16, F.col("v"), lambda a, b: F.abs(a - b))), 8)
         .alias("f16_max_err"),
        F.round(F.array_max(F.zip_with(f32, F.col("v"), lambda a, b: F.abs(a - b))), 10)
         .alias("f32_max_err"),
    )


def q_ingest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 ingest slice as ONE declarative plan: enumerate (documents
    table) → K1 chunk → S4 content-hash → C3 mock-embed (M1 test mode)
    → S8 index-row shape. The whole reference executor path
    (executor.py:359-571) compiles to a single narrow Spark plan — no
    shuffle until the (optional) index write. Embedding is summarized
    as (dim, 6dp component sum) so the oracle compares scalars."""
    from semantik_spark.functions.vectors import mock_embedding

    chunks = chunking.fixed_chunks(_t(spark, sf_dir, "documents"), chunk_size=200, overlap=50)
    idx = chunks.withColumn("embedding", mock_embedding(F.col("content")))
    return idx.select(
        "doc_id", "chunk_id", "chunk_index",
        content_hash("content").alias("chunk_hash"),
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6
        ).alias("emb_checksum"),
    )


def _scratch(name: str) -> str:
    """Scratch path under the repo's spark-warehouse, anchored at this
    file so the queries work regardless of the driver's cwd and scoped
    per process (pid suffix) so concurrent drivers — bench.py next to
    pytest next to check_oracle — never race on the same vocab file or
    blue/green root.

    Lifecycle (ADVICE r5): this process's dir is removed at interpreter
    exit, and the first call also sweeps sibling ``scratch-<pid>`` dirs
    whose pid is no longer alive, so crashed runs can't accumulate
    parquet copies indefinitely."""
    import atexit  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "spark-warehouse")
    base = os.path.join(root, f"scratch-{os.getpid()}")
    if not os.path.exists(base):
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        try:
            for d in os.listdir(root):
                if not d.startswith("scratch-"):
                    continue
                pid = d.split("-", 1)[1]
                if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        except OSError:
            pass
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


def _disc_price():
    """extendedprice*(1-discount) on the exact-decimal path (the
    pricing_summary convention) so cross-engine sums are bit-equal."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
    ).cast("decimal(30,4)")


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue as of a cutoff date. Filters reach the scans (segment on
    customer, date on orders/lineitem) before any join; the filtered
    customer side is small enough for AQE to broadcast — no hint, so
    the plan still degrades to shuffle join at large SF."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1998-07-01"))
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-07-01"))
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", F.col("o_orderdate").cast("string").alias("order_date"),
                "revenue")
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items ('R' flag) per
    customer, top 20. Return-flag filter pushes to the lineitem scan;
    nation broadcasts (25 rows, fixed at any SF)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"),
             F.count("*").cast("bigint").alias("n_items"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no shipmode column in this schema —
    lateness = shipped >90 days after order date): per order priority,
    how many lineitems shipped late vs on time. One join, one groupBy;
    the date arithmetic is engine-native day math."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90,
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("is_late"), 1).otherwise(0)).cast("bigint").alias("n_late"),
            F.sum(F.when(~F.col("is_late"), 1).otherwise(0)).cast("bigint").alias("n_ontime"),
            F.round(
                F.sum(F.when(F.col("is_late"), 1).otherwise(0)) / F.count("*"), 6
            ).alias("late_frac"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO-type revenue share per month of 1998H1.
    part is SF-linear so no forced broadcast — AQE picks; the month
    bucketing happens after the join on the already-filtered fact."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-07-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    dp = _disc_price()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", dp)
                  .otherwise(F.lit(0).cast("decimal(30,4)"))).alias("_promo"),
            F.sum(dp).alias("_total"),
        )
        .select(
            "month",
            F.round(F.lit(100.0) * F.col("_promo").cast("double")
                    / F.col("_total").cast("double"), 6).alias("promo_pct"),
            F.col("_promo").cast("double").alias("promo_revenue"),
        )
    )


def q_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp, which this
    schema omits): distinct supplier count per (brand, size) for
    non-PROMO parts, excluding negative-balance suppliers. distinct
    (part,supp) collapses the fact first so the count shuffle moves
    pairs, not lineitems; top 15 by supplier count."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").where(F.col("p_type") != "PROMO")
    supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") >= 0)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
        .limit(15)
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (the last of the 22 shapes): forecast revenue change —
    one filtered scan, one global aggregate, zero joins. The value is
    the PLAN: every predicate (ship-year range, discount band, quantity
    cap) must reach the parquet reader as a pushed filter and the
    projection must prune to the four referenced columns, so at 100 TB
    this reads row-group stats, not data. The discount band compares
    raw stored doubles against the same literals in both engines (no
    arithmetic before the compare); the revenue sum runs in exact
    decimals and casts to double once at the end."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_discount").cast("decimal(8,2)")
    ).cast("decimal(30,4)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one
    brand's ECONOMY parts — lines with quantity below 20% of the
    part's average. The threshold compare is kept EXACT:
    qty*5*count < sum(qty) in decimals/bigints, no double division, so
    both engines agree on boundary rows. Per-part averages come from a
    self-aggregation joined back (AQE broadcasts the small filtered
    side)."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#13") & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    flt = li.join(part, li.l_partkey == part.p_partkey, "left_semi")
    stats = flt.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sum_qty"),
        F.count("*").cast("bigint").alias("_n"),
    )
    return (
        flt.join(stats, "l_partkey")
        .where(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("_n")
            < F.col("_sum_qty")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.coalesce(
                F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                        .cast("double") / 2.0, 6),
                F.lit(0.0),
            ).alias("avg_yearly"),
        )
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 100, with
    their customer — the classic groupBy-HAVING feeding a join. The
    quantity rollup happens FIRST (map-side combine on l_orderkey), so
    only qualifying orderkeys reach the join; top 100 by quantity."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .where(F.col("sum_qty") > 100)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "l_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("total_price"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("sum_qty"), F.asc("l_orderkey"))
        .limit(100)
    )


def q_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely at fault in finished
    multi-supplier orders — the double correlated EXISTS / NOT EXISTS
    over the same table, decorrelated into one semi-join and one
    anti-join with a same-key/different-supplier condition. The
    returned-line marker (l_returnflag='R') stands in for the
    receipt>commit lateness test (no receipt dates in this schema).
    All joins are equi on l_orderkey with a residual suppkey
    inequality, so the plan is two sort-merge joins over the SAME
    orderkey shuffle partitioning — no cartesian, reused exchange."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    orders_f = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    fault = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders_f, li.l_orderkey == orders_f.o_orderkey, "left_semi")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_lines = li.select("l_orderkey", "l_suppkey").distinct()
    other = all_lines.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    other_fault = fault.select(
        F.col("l_orderkey").alias("f_ok"), F.col("l_suppkey").alias("f_sk")
    )
    sole = (
        fault.join(
            other,
            (fault.l_orderkey == other.o_ok) & (fault.l_suppkey != other.o_sk),
            "left_semi",
        )
        .join(
            other_fault,
            (fault.l_orderkey == other_fault.f_ok)
            & (fault.l_suppkey != other_fault.f_sk),
            "left_anti",
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


def q_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit rollup by supplier nation x ship year
    for one part family ('widget' parts; no supplycost column in this
    schema, so profit = discounted revenue). The fact table joins one
    filtered dimension per hop: part filter is semi-joined FIRST (the
    selective one), then supplier->nation hydrate via broadcast —
    nation is 25 rows and supplier is the smaller side, so only the
    part semi-join shuffles lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    widget = _t(spark, sf_dir, "part").where(
        F.col("p_name").contains("widget")
    ).select("p_partkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (F.col("l_extendedprice").cast("decimal(18,2)")
              * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
              ).cast("decimal(30,4)")
    return (
        li.join(widget, li.l_partkey == widget.p_partkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(amount).cast("double").alias("sum_profit"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split over the augmented dup corpus
    (training.leakage_safe_split): split hashes the near-dup CLUSTER
    id so planted duplicates land together; naive_leak audits what a
    per-doc hash split would have contaminated."""
    from semantik_spark.operators.training import leakage_safe_split

    return leakage_safe_split(_aug_docs(spark, sf_dir))


def q_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit over the event stream
    (streaming.windows.late_data_audit): batch-boundary frontier
    (exactly Structured Streaming's watermark-advance rule, arrival =
    event_id order), per 5-min window the counts a 60s/300s watermark
    would drop + max lateness. The number every withWatermark() call
    needs measured, not guessed."""
    from semantik_spark.streaming.windows import late_data_audit

    return late_data_audit(_events(spark, sf_dir), batch_size=1000,
                           window_minutes=5, delays_s=(60, 300))


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the even/odd doc_id halves
    of the corpus (profiling.corpus_drift_psi): hashed-token bins,
    add-one smoothing, per-bin 6dp terms + exact decimal total — the
    drift monitor between yesterday's and today's corpus snapshot. The
    synthetic halves share one vocabulary, so psi_total ~ 0 (asserted
    <0.1 'stable' in tests; a real drift shows >0.25)."""
    from semantik_spark.operators.profiling import corpus_drift_psi

    docs = _t(spark, sf_dir, "documents")
    return corpus_drift_psi(docs.where(F.col("doc_id") % 2 == 0),
                            docs.where(F.col("doc_id") % 2 == 1), buckets=32)


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap matrix: per source-pair
    union/intersection/Jaccard ESTIMATES from KMV shingle sketches
    (sketches.kmv_set_ops over word-shingles grouped by source) — the
    contamination check a multi-source training mix runs before
    weighting sources, in k floats of state per source instead of a
    cross-source shingle join."""
    from semantik_spark.functions.text import word_shingles
    from semantik_spark.operators.sketches import kmv_set_ops

    from semantik_spark.functions.parallel import spread

    docs = _t(spark, sf_dir, "documents")
    # spread before the shingle explode: the single-file scan otherwise
    # runs the per-shingle md5 hashing in one task (guide §2.5); KMV
    # keeps the k SMALLEST hashes — a set property, placement-free
    sh = spread(docs.select("source", "text"), "source", "text") \
        .select("source", F.explode(word_shingles("text", 3)).alias("shingle"))
    return kmv_set_ops(sh, "source", "shingle", k=64)


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of revenue delivered
    to ASIA-region customers, per order year. Two independent dimension
    chains hang off the fact row: customer->nation->region (the
    selective one — semi-joined via the region filter first) and
    supplier->nation (broadcast hydrate); the share is a conditional
    aggregate over the SAME rows, so one shuffle computes both
    numerator and denominator (no self-join, no second pass)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    asia_cust = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("c_custkey")
    )
    supp_nation = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
           ).cast("decimal(30,4)")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(asia_cust, orders.o_custkey == asia_cust.c_custkey, "left_semi")
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .select(F.year("o_orderdate").cast("int").alias("o_year"),
                rev.alias("rev"), "supp_nation")
    )
    agg = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("rev"))
              .otherwise(F.lit(0).cast("decimal(30,4)"))).alias("nat_rev"),
        F.sum("rev").alias("all_rev"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("nat_rev").cast("double") / F.col("all_rev").cast("double"), 6)
        .alias("mkt_share"),
        F.col("all_rev").cast("double").alias("total_revenue"),
    )


def q_top_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted — no partsupp table): parts whose
    lineitem revenue exceeds 1.25x the mean part revenue (the top decile of this
    corpus's near-uniform synthetic revenue). The correlated
    global-threshold HAVING decorrelates to a 1-row (total, n_parts)
    broadcast; the compare is rev*n_parts*4 > 5*total
    in EXACT decimal/bigint (no division), so boundary parts cannot
    flake cross-engine — and the mean-relative cut stays selective at
    every scale factor (a fixed revenue fraction goes vacuous when
    |parts| is below 1/fraction)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)"))
           ).cast("decimal(30,4)")
    per_part = li.select(F.col("l_partkey").alias("p_partkey"), rev.alias("rev")) \
        .groupBy("p_partkey").agg(F.sum("rev").alias("part_rev"))
    total = per_part.agg(F.sum("part_rev").alias("total_rev"),
                         F.count("*").cast("bigint").alias("n_parts"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_rev") * F.col("n_parts") * F.lit(4)
               > F.col("total_rev") * F.lit(5))
        .select(
            "p_partkey",
            F.col("part_rev").cast("double").alias("revenue"),
            F.round(F.col("part_rev").cast("double") * F.col("n_parts")
                    / F.col("total_rev").cast("double"), 6).alias("vs_mean"),
        )
    )


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from an OR-of-ANDs predicate across
    three brand/size/quantity bands — the disjunctive-pushdown test.
    Catalyst pushes the common conjuncts (quantity/size bounds) into
    both scans and evaluates the disjunction post-join; a single
    aggregate row comes back."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, li.l_partkey == part.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#13") & (F.col("p_size").between(1, 10))
         & (F.col("l_quantity").between(1, 15)))
        | ((F.col("p_brand") == "Brand#19") & (F.col("p_size").between(1, 20))
           & (F.col("l_quantity").between(10, 25)))
        | ((F.col("p_brand") == "Brand#5") & (F.col("p_size").between(1, 30))
           & (F.col("l_quantity").between(20, 35)))
    )
    return j.where(band).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.coalesce(F.sum(_disc_price()).cast("double"), F.lit(0.0)).alias("revenue"),
    )


def q_splade_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 with a FILE-BACKED vocabulary (VERDICT r4 item 9): build a
    BERT-vocab.txt-layout file (specials + df-ranked corpus terms +
    [unusedN] padding, line number = token id) from the even-doc_id
    half of the corpus, load it back, and encode a doc sample against
    the broadcast term→id map — odd-half-only terms exercise the real
    [UNK] collapse. The oracle replays the df ranking and id
    assignment symbolically; the file round-trip is the part only the
    Spark side can prove."""
    docs = _t(spark, sf_dir, "documents")
    path = _scratch("splade_vocab.txt")
    splade.build_vocab_file(docs.where(F.col("doc_id") % 2 == 0), path)
    vocab = splade.load_vocab(spark, path)
    enc = splade.encode_with_vocab(docs.where(F.col("doc_id") % 25 == 0), vocab)
    return enc.select("doc_id", "vocab_id", F.round("weight", 6).alias("weight"))


def q_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 document/artifact persistence, oracle-checked end-to-end:
    shape documents into the artifact contract (uri, content_hash,
    size_bytes — models.py:333-408), WRITE the table to parquet,
    REOPEN it, and aggregate the reopened catalog per source. The
    oracle computes the same aggregate straight from the source rows,
    so any loss, duplication, or type mangling across the
    write→read boundary is a hash mismatch."""
    import os  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    artifacts = docs.select(
        F.lit("col-rt").alias("collection_id"),
        F.col("doc_id"),
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("uri"),
        content_hash("text").alias("content_hash"),
        F.length("text").cast("bigint").alias("size_bytes"),
        F.col("source"),
    )
    path = _scratch("artifact_roundtrip")
    artifacts.write.mode("overwrite").partitionBy("source").parquet(path)
    reopened = spark.read.parquet(path)
    return reopened.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("content_hash").cast("bigint").alias("n_hashes"),
        F.sum("size_bytes").cast("bigint").alias("n_bytes"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def q_bluegreen_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 blue/green reindex, oracle-checked end-to-end: build v1
    (even doc_ids only), stage+validate+swap (live→blue), then build v2
    (all docs), stage+validate+swap again (live→green), and aggregate
    what the LIVE pointer now serves. The oracle replays the v2
    aggregate — a stale pointer, partial staging write, or broken swap
    serves v1 rows and breaks the match. live_color pins the expected
    pointer target after two swaps from an empty root."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    from semantik_spark.operators.maintenance import BlueGreenIndex

    root = _scratch("bluegreen_swap")
    if os.path.exists(root):
        shutil.rmtree(root)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bg = BlueGreenIndex(root)
    bg.write_staging(docs.where(F.col("doc_id") % 2 == 0))
    bg.validate_staging(spark, min_rows=1, expect_columns=("doc_id", "lang"))
    bg.swap()
    bg.write_staging(docs)
    bg.validate_staging(spark, min_rows=1, expect_columns=("doc_id", "lang"))
    bg.swap()
    live = spark.read.parquet(os.path.realpath(bg.live_path))
    return live.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    ).withColumn(
        "live_color", F.lit(os.path.basename(os.path.realpath(bg.live_path)))
    )


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents' text bytes as opaque media BLOBs — the multimodal
    column contract (BinaryType content + typed metadata). The string →
    binary cast is UTF-8 on both engines, so sha256-derived fake decodes
    replay exactly in the DuckDB oracle."""
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image/png").alias("mime_type"),
        F.col("text").cast("binary").alias("content"),
    )


def _media_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container bytes generated deterministically per doc_id in a
    distributed kernel (parse_routed's builder pattern): doc_id % 4
    selects PNG/BMP/GIF/JPEG, dimensions and channel layout derive from
    doc_id arithmetic the DuckDB oracle replays symbolically. The
    decode side (multimodal.decode_image_meta) then struct-parses the
    actual container headers — a misparse breaks the oracle match."""
    import pandas as pd  # noqa: PLC0415

    from semantik_spark.operators import multimodal

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 16 + (d * 7) % 48
                h = 16 + (d * 13) % 48
                kind = d % 4
                if kind == 0:
                    content = multimodal.encode_png(w, h, [0, 2, 6][d % 3])
                elif kind == 1:
                    content = multimodal.encode_bmp(w, h, [8, 24, 32][d % 3])
                elif kind == 2:
                    content = multimodal.encode_gif(w, h)
                else:
                    content = multimodal.encode_jpeg_header(w, h, 1 + 2 * (d % 2))
                rows.append({"media_id": str(d), "content": content})
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return ids.mapInPandas(gen, "media_id string, content binary")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode over REAL container bytes: generate a valid
    PNG/BMP/GIF/JPEG per document (deterministic doc_id rule), then
    struct-parse the actual headers via multimodal.decode_image_meta
    (mapInPandas — bytes never leave the executor). The oracle
    recomputes the expected format/width/height/channels from the same
    doc_id rule, so a header-parse bug is a hash mismatch."""
    from semantik_spark.operators import multimodal

    return multimodal.image_features(_media_containers(spark, sf_dir)).select(
        "media_id", "format", "width", "height", "n_channels"
    )


def q_audio_wav_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation over REAL WAV containers: per document,
    generate a valid PCM WAV (rate/channels/bits/frame-count from a
    doc_id rule), walk its RIFF chunks for the true duration
    (multimodal.decode_wav_meta), and emit fixed 500 ms segments. The
    oracle recomputes duration_ms = n_samples*1000 // rate from the
    generation rule — a chunk-walk bug breaks the match."""
    import pandas as pd  # noqa: PLC0415

    from semantik_spark.operators import multimodal

    ids = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate = [8000, 16000, 44100][d % 3]
                ch = 1 + (d % 2)
                bits = 8 * (1 + (d % 2))
                n_samples = 2000 + (d * 37) % 20000
                rows.append({
                    "media_id": str(d),
                    "content": multimodal.encode_wav(rate, ch, bits, n_samples),
                })
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = ids.mapInPandas(gen, "media_id string, content binary")
    return multimodal.audio_segments(media, segment_ms=500).select(
        "media_id", "segment_index", "start_ms", "end_ms"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: 1 media row → N frame rows
    (flatMap shape through mapInPandas)."""
    from semantik_spark.operators import multimodal

    return multimodal.sample_frames(_media(spark, sf_dir), every_ms=1000, max_frames=8).select(
        "media_id", "frame_index", "ts_ms"
    )


def _run_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic pipeline-run results over documents:
    doc_id%10==0 → failed (alternating transient/permanent message),
    %10==1 → skipped, else succeeded."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit("failed"))
        .when(F.col("doc_id") % 10 == 1, F.lit("skipped"))
        .otherwise(F.lit("succeeded")).alias("status"),
        F.when(
            F.col("doc_id") % 20 == 0, F.lit("connection timeout to vecpipe")
        ).otherwise(F.lit("parse error: bad header")).alias("error_message"),
        (F.col("doc_id") % 4).cast("int").alias("retry_count"),
    )


def q_run_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 failure accounting: one-row processed/succeeded/failed/skipped
    counters (executor.py:188-200 parity)."""
    from semantik_spark.operators import runlog

    return runlog.status_counts(_run_results(spark, sf_dir))


def q_run_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 dead-letter rows with transient/permanent categorization and
    the retryable subset flag (models.py:373-375, failure_tracker)."""
    from semantik_spark.operators import runlog

    dead = runlog.dead_letter(_run_results(spark, sf_dir))
    retry = runlog.retry_candidates(dead, max_retries=3).select(
        "doc_id", F.lit(True).alias("will_retry")
    )
    return dead.join(retry, "doc_id", "left").select(
        "doc_id", "status", "error_message", "retry_count",
        "error_category", "retryable",
        F.coalesce("will_retry", F.lit(False)).alias("will_retry"),
    )


def q_gc_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 GC: index points whose document was removed (anti-join,
    maintenance.py:175-238). Index = fixed chunks; live docs = docs with
    doc_id % 10 != 0."""
    from semantik_spark.operators.maintenance import orphaned_points

    docs = _t(spark, sf_dir, "documents")
    index = chunking.fixed_chunks(docs, chunk_size=200, overlap=50).select(
        "chunk_id", F.col("doc_id").cast("bigint").alias("doc_id")
    )
    live = docs.where(F.col("doc_id") % 10 != 0)
    return orphaned_points(index, live).select("chunk_id", "doc_id")


def q_stale_marking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-doc marking: catalog rows absent from the latest
    enumeration (models.py:369-370 semantics)."""
    from semantik_spark.operators.maintenance import mark_stale

    docs = _t(spark, sf_dir, "documents")
    catalog = docs.select("doc_id", "source")
    enumeration = docs.where(F.col("doc_id") % 7 != 0).select("doc_id")
    return mark_stale(catalog, enumeration, key_cols=("doc_id",)).select(
        "doc_id", "source", "is_stale"
    )


def q_projection_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 category labeling (projection.py:141-263): plot-facet columns
    for the embedding atlas."""
    from semantik_spark.operators.projection import label_categories

    return label_categories(_t(spark, sf_dir, "documents"))


def q_config_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 benchmark config-matrix expansion: cartesian of literal axes
    (models.py:1570-1576). Built as explode chains on a single row —
    a crossJoin of three 32-partition literal DataFrames would schedule
    32^3 tasks for 12 rows. No longer a registered entry of its own
    (pruned r12): benchmark_matrix composes it and its oracle replays
    the expansion, so this is the shared helper."""
    return (
        spark.range(1)
        .select(F.explode(F.array(F.lit("modelA"), F.lit("modelB"))).alias("model"))
        .select("model", F.explode(F.array(
            F.lit("float32"), F.lit("float16"), F.lit("int8"))).alias("quantization"))
        .select("model", "quantization", F.explode(F.array(F.lit(5), F.lit(10))).alias("k"))
    )


def q_benchmark_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 composed: config-matrix expansion (A7) × aggregated IR
    metrics (A6/J5) — one row per (run config, metric). Rank-k metrics
    attach to the run with the matching k; k-independent metrics
    (mrr/ap) attach to every run. The reference loops this per run
    (benchmark_executor.py:399-549); here the whole matrix is one
    plan with the metric table broadcast into the 12-row matrix."""
    retrieved, qrels = _ir_inputs(spark, sf_dir)
    agg = metrics.aggregate_metrics(metrics.evaluate(retrieved, qrels, (5, 10))) \
        .withColumnRenamed("k", "mk")
    matrix = q_config_matrix(spark, sf_dir)
    return (
        matrix.join(
            F.broadcast(agg),
            F.col("mk").isNull() | (F.col("mk") == F.col("k")),
        )
        .select(
            "model", "quantization", F.col("k").alias("run_k"),
            "metric", F.round("value", 6).alias("value"),
        )
    )


def q_parse_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 routed parse over a mixed-format corpus: documents are
    re-encoded as .txt/.json/.html/.eml/.pdf/.odt/.epub/.doc/.ppt
    files (deterministic constructions the oracle can invert), routed
    through the registry, and parsed by the real stdlib parser
    families. The zip+XML (.odt/.epub) and OLE-CFB (.doc/.ppt)
    families are built in an Arrow-batched mapInPandas stage (binary
    container bytes can't be a Column expression) with pinned metadata
    so the corpus is bit-deterministic. Verifies routing, per-family
    dispatch, and text-layer round-trips in one plan."""
    from semantik_spark.sources import parsers as P

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 9
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("\\"), F.lit("\\\\")),
            F.lit("("), F.lit("\\("),
        ),
        F.lit(")"), F.lit("\\)"),
    )
    content = (
        F.when(m == 0, F.col("text"))
        .when(m == 1, F.to_json(F.struct(title.alias("title"),
                                         F.col("text").alias("body"))))
        .when(m == 2, F.concat(F.lit("<html><head><title>"), title,
                               F.lit("</title></head><body><p>"), F.col("text"),
                               F.lit("</p></body></html>")))
        .when(m == 3, F.concat(F.lit("Subject: "), title, F.lit("\n\n"), F.col("text")))
        .otherwise(F.concat(F.lit("%PDF-1.4\nBT ("), esc, F.lit(") Tj ET\n%%EOF")))
    )
    ext = (
        F.when(m == 0, ".txt").when(m == 1, ".json").when(m == 2, ".html")
        .when(m == 3, ".eml").when(m == 4, ".pdf")
        .when(m == 5, ".odt").when(m == 6, ".epub")
        .when(m == 7, ".doc").otherwise(".ppt")
    )
    flat = d.where(m <= 4).select(
        F.concat(F.lit("mixed/doc_"), F.col("doc_id").cast("string"), ext).alias("uri"),
        ext.alias("extension"),
        F.encode(content, "UTF-8").alias("content"),
    )
    zipped_src = d.where(m >= 5).select(
        F.concat(F.lit("mixed/doc_"), F.col("doc_id").cast("string"), ext).alias("uri"),
        ext.alias("extension"), "text",
    )

    def build_zips(batches):
        import io
        import zipfile
        from xml.sax.saxutils import escape

        import pandas as pd

        from semantik_spark.sources.parsers import make_doc_bytes, make_ppt_bytes

        def zip_bytes(members: list[tuple[str, str]]) -> bytes:
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                for name, data in members:
                    zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                    zf.writestr(zi, data)
            return buf.getvalue()

        for pdf in batches:
            rows = []
            for uri, e, text in zip(pdf["uri"], pdf["extension"], pdf["text"]):
                body = escape(text)
                if e == ".doc":
                    raw = make_doc_bytes(text)
                elif e == ".ppt":
                    raw = make_ppt_bytes(text)
                elif e == ".odt":
                    raw = zip_bytes([("content.xml",
                        '<office:document-content'
                        ' xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"'
                        ' xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
                        f'<office:body><office:text><text:p>{body}</text:p>'
                        '</office:text></office:body></office:document-content>')])
                else:
                    raw = zip_bytes([
                        ("mimetype", "application/epub+zip"),
                        ("META-INF/container.xml",
                         '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container"'
                         ' version="1.0"><rootfiles><rootfile full-path="OEBPS/content.opf"'
                         ' media-type="application/oebps-package+xml"/></rootfiles></container>'),
                        ("OEBPS/content.opf",
                         '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
                         '<manifest><item id="ch1" href="chapter1.xhtml"'
                         ' media-type="application/xhtml+xml"/></manifest>'
                         '<spine><itemref idref="ch1"/></spine></package>'),
                        ("OEBPS/chapter1.xhtml",
                         '<html xmlns="http://www.w3.org/1999/xhtml"><body>'
                         f'<p>{body}</p></body></html>'),
                    ])
                rows.append({"uri": uri, "extension": e, "content": raw})
            yield pd.DataFrame(rows, columns=["uri", "extension", "content"])

    zipped = zipped_src.mapInPandas(
        build_zips, schema="uri string, extension string, content binary")
    files = flat.unionByName(zipped)
    return P.parse(files).select("uri", "extension", "parser", "parse_status", "text")


def q_benchmark_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 dataset→collection doc-ref resolution with mapping_status
    (benchmark_dataset_service.py:49-117,781-787; models.py:1451-1482):
    synthetic refs exercise all five identifier priorities plus
    not_found / ambiguous / all-resolved / none-resolved mappings."""
    from semantik_spark.operators import benchmark

    docs = _t(spark, sf_dir, "documents")
    uri = F.concat_ws("/", "source", F.col("doc_id").cast("string"))
    chash = F.sha2(F.col("text").cast("string"), 256)
    fname = F.concat(F.lit("f"), (F.col("doc_id") % 300).cast("string"))
    catalog = docs.select(
        "doc_id", uri.alias("uri"), chash.alias("content_hash"), fname.alias("file_name")
    )
    r = F.floor(F.col("doc_id") / 3).cast("bigint") % 6
    nolong = F.lit(None).cast("bigint")
    nostr = F.lit(None).cast("string")
    refs_main = docs.select(
        F.col("doc_id").alias("ref_id"),
        F.lit("ds1").alias("dataset_id"),
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string")).alias("collection_id"),
        F.when(r == 0, F.col("doc_id")).when(r == 1, F.col("doc_id") + 500000)
         .alias("document_id"),
        F.when(r == 2, uri).alias("uri"),
        F.when(r == 3, chash).alias("content_hash"),
        F.when(r == 4, uri).alias("path"),
        F.when(r == 5, fname).alias("file_name"),
    )
    refs_pending = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("ref_id"), F.lit("ds1").alias("dataset_id"),
        F.lit("c3").alias("collection_id"),
        (F.col("doc_id") + 900000).alias("document_id"),
        nostr.alias("uri"), nostr.alias("content_hash"),
        nostr.alias("path"), nostr.alias("file_name"),
    )
    refs_resolved = docs.where(F.col("doc_id") % 50 == 1).select(
        (F.col("doc_id") + 2000000).alias("ref_id"), F.lit("ds1").alias("dataset_id"),
        F.lit("c4").alias("collection_id"), F.col("doc_id").alias("document_id"),
        nostr.alias("uri"), nostr.alias("content_hash"),
        nostr.alias("path"), nostr.alias("file_name"),
    )
    refs = refs_main.unionByName(refs_pending).unionByName(refs_resolved)
    res = benchmark.resolve_doc_refs(refs, catalog)
    return benchmark.mapping_status(res)


def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: distributed PCA of the embeddings table to 2-D, verified via
    sign/rotation-invariant spectrum scalars (component signs are
    SVD-implementation-specific, so raw x/y can't be hash-compared):
    var_samp of each score column equals the corresponding eigenvalue
    of the sample covariance regardless of eigenvector sign, and
    total/residual variance come from a per-dimension variance sum.
    Oracle: deterministic matrix-squaring power iteration in pure SQL
    (oracles.q_pca_spectrum)."""
    from semantik_spark.operators.projection import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    proj = pca_project(emb, k=2)
    ev = proj.agg(F.var_samp("x").alias("l1"), F.var_samp("y").alias("l2"))
    tot = (
        emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"))
        .groupBy("i").agg(F.var_samp("v").alias("dv"))
        .agg(F.sum("dv").alias("total_var"))
    )
    comps = ev.crossJoin(tot).select(
        F.explode(F.array(
            F.struct(F.lit(1).alias("component"), F.col("l1").alias("eig")),
            F.struct(F.lit(2).alias("component"), F.col("l2").alias("eig")),
        )).alias("c"), "l1", "l2", "total_var")
    return comps.select(
        F.col("c.component").cast("int").alias("component"),
        F.round(F.col("c.eig"), 6).alias("eigenvalue"),
        F.round(F.col("c.eig") / F.col("total_var"), 6).alias("explained"),
        F.round("total_var", 6).alias("total_var"),
        F.round(F.col("total_var") - F.col("l1") - F.col("l2"), 6).alias("resid_var"),
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# time-series operators (engine-native; absent in reference, SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the user's most
    recent click at-or-before it. Union-then-window plan: one shuffle on
    user_id, no range explosion (operators/timeseries.py)."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros("ts")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", us.alias("us"), "value")
    )
    # reduce clicks to one row per (user, ts) so the as-of match is
    # deterministic even with timestamp collisions
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", us.alias("us"))
        .agg(F.max("event_id").alias("click_event_id"))
        .withColumn("click_us", F.col("us"))
    )
    out = timeseries.asof_join(
        purchases, clicks, keys=["user_id"], ts_col="us",
        right_cols=["click_event_id", "click_us"],
    )
    return out.select(
        "user_id", "event_id",
        F.col("us").alias("purchase_us"),
        "value", "click_event_id", "click_us",
        (F.col("us") - F.col("click_us")).alias("gap_us"),
    )


def q_events_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-minute RANGE window per user: event count and value
    sum over the preceding 600s including the current row — one sort per
    user partition, no self-join."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"), "value"
    )
    w = timeseries.preceding_range_window(["user_id"], "us", 600_000_000)
    return base.select(
        "user_id", "event_id", "us",
        F.count("*").over(w).cast("bigint").alias("n_10m"),
        F.round(F.sum("value").over(w), 4).alias("sum_10m"),
    )


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width ROWS-frame smoothing per user: mean/min/max of the
    last 3 events ordered by (ts, event_id) — the tick-data companion
    to the RANGE-frame query above (operators/timeseries.py
    rolling_stats)."""
    return timeseries.rolling_stats(_events(spark, sf_dir), n_rows=3)


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys: most frequent ordered event-type paths
    per 30-min-gap session, truncated to 8 steps (operators/
    timeseries.py session_paths)."""
    return timeseries.session_paths(_events(spark, sf_dir))


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view->click->purchase
    funnel (operators/timeseries.py funnel_latency)."""
    return timeseries.funnel_latency(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix: per (prev_event, event)
    pair, occurrence count and conditional probability P(next | prev)
    within each user's (ts, event_id)-ordered stream. One lag window
    per user partition + one pair groupBy — the sequence-analytics
    shape (funnel's cheap cousin) at one shuffle each."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_event", F.lag("event_type").over(w))
        .where(F.col("prev_event").isNotNull())
        .groupBy("prev_event", F.col("event_type").alias("next_event"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = Window.partitionBy("prev_event")
    return pairs.select(
        "prev_event", "next_event", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p_next"),
    )


def q_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped second-moment statistics: Pearson correlation, sample
    covariance and stddev per return flag. Moments are accumulated in
    exact DECIMAL (same trick as events_anomaly) and the double math on
    top is written identically in the oracle, so the 6-dp rounded
    outputs cannot drift on summation order."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    d = F.col("l_discount").cast("decimal(8,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(d).cast("double").alias("sd"),
        F.sum(d * d).cast("double").alias("sdd"),
    )
    n = F.col("n")
    varx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vary = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    return agg.select(
        "l_returnflag", "n",
        F.round(cov / F.sqrt(varx * vary), 6).alias("corr_qty_price"),
        F.round(cov, 6).alias("covar_qty_price"),
        F.round(F.sqrt((F.col("sdd") - F.col("sd") * F.col("sd") / n) / (n - 1)), 6).alias("stddev_disc"),
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers: events whose value sits more than
    2.5 sample standard deviations from the event-type mean. Moments
    are accumulated in DECIMAL (exact, order-independent) and only then
    converted to double, so Spark and DuckDB derive bit-identical
    mean/std and the |z| threshold can't flip on summation order. Plan:
    one groupBy for the per-type moments (tiny), broadcast back onto
    the scan — map-only flagging, the shape a 100 TB anomaly scan
    needs."""
    ev = _events(spark, sf_dir)
    dv = F.col("value").cast("decimal(28,8)")
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dv).alias("s1"),
        F.sum((dv * dv).cast("decimal(38,10)")).alias("s2"),
    ).select(
        "event_type", "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2").cast("double")
             - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where((F.col("n") >= 2) & (F.col("sd") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id", "event_type",
            F.round("value", 6).alias("value"),
            F.round("mean", 6).alias("mean"),
            F.round("sd", 6).alias("sd"),
            F.round(z, 6).alias("z"),
        )
    )


def q_value_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D numeric BAND JOIN via bucket blocking: purchase-event pairs
    with |value difference| <= 0.1 found through a floor(v/eps) bucket
    equi-join probing own+next bucket (pigeonhole-complete) — the
    scalar cousin of the embedding near-dup bit-bands; the naive form
    is a |rows|^2 nested loop (timeseries.value_band_pairs)."""
    return timeseries.value_band_pairs(_events(spark, sf_dir), eps=0.1)


def q_events_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast residuals (the forecasting-monitor
    complement to the distributional z-scan of events_anomaly): per
    (event_type, day) counts forecast by the same weekday LAST week
    (lag-7 seasonal naive — the standard baseline every forecast must
    beat), residual z-scored against the type's residual distribution
    via exact-decimal moments. Counts and residuals are integers, so
    everything up to the final z division is exact. One groupBy for
    daily counts, one self-join on (type, day-7), one tiny moments
    agg broadcast back — map-only flagging."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    base = daily.alias("a").join(
        daily.select(F.col("event_type").alias("event_type"),
                     F.col("day").alias("b_day"),
                     F.col("n").alias("forecast")).alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b_day") == F.date_sub(F.col("a.day"), 7)),
    ).select(F.col("a.event_type").alias("event_type"), F.col("a.day").alias("day"),
             F.col("a.n").alias("n"), "forecast",
             (F.col("a.n") - F.col("forecast")).cast("bigint").alias("residual"))
    dr = F.col("residual").cast("decimal(28,8)")
    stats = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nn"),
        F.sum(dr).alias("s1"),
        F.sum((dr * dr).cast("decimal(38,10)")).alias("s2"),
    ).select(
        "event_type", "nn",
        (F.col("s1").cast("double") / F.col("nn")).alias("rmean"),
        F.sqrt(
            (F.col("s2").cast("double")
             - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("nn"))
            / (F.col("nn") - 1)
        ).alias("rsd"),
    )
    z = (F.col("residual") - F.col("rmean")) / F.col("rsd")
    return (
        base.join(F.broadcast(stats), "event_type")
        .where((F.col("nn") >= 2) & (F.col("rsd") > 0))
        .select(
            "event_type", F.col("day").cast("string").alias("day"),
            "n", "forecast", "residual",
            F.round(z, 6).alias("z"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
    )


def q_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the heuristic quality
    score (training.calibrate_scores): every source mapped onto one
    [0,1] percentile scale so a global keep-top-X%% cut prunes the
    same fraction of every source — the multi-source curation
    calibration raw scores can't give."""
    from semantik_spark.operators.textanalysis import quality_features
    from semantik_spark.operators.training import calibrate_scores

    docs = _t(spark, sf_dir, "documents")
    scored = quality_features(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return calibrate_scores(scored)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion view→click→purchase: per-step user
    counts where each step strictly follows the user's earliest valid
    chain through the previous steps. Join-chain plan — one filtered
    aggregate + one user_id equi-join per step, no per-user event
    arrays (operators/timeseries.py funnel)."""
    return timeseries.funnel(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    )


def q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: first-active-day cohorts × day offsets
    0..7, fraction of cohort active at each offset."""
    return timeseries.retention_cohorts(_events(spark, sf_dir), max_offset=7)


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload analytics: extract props.$.k with
    get_json_object (JVM Jackson, no UDF) and aggregate per type."""
    return timeseries.props_stats(_events(spark, sf_dir), "$.k")


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality/domain classifier stage (fastText-style):
    multinomial naive Bayes over BM25 tokens, trained on the 4/5 split
    of documents by doc_id, scored on the held-out 1/5. Exact-decimal
    log-posteriors make the argmax engine-portable
    (operators/classify.py)."""
    from semantik_spark.operators.classify import naive_bayes_classify

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    return naive_bayes_classify(train, test, label_col="lang")


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). At 100 TB swap for
    ``approx_percentile`` — same plan shape, sketch-mergeable."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier scan: |value - median| / MAD > 3.5 per event type
    (Hampel identifier with the 1.4826 normal-consistency constant) —
    the heavy-tail-safe complement to the z-score scan, whose mean/sd
    are themselves dragged by the outliers they hunt. Median and MAD
    are exact interpolated percentiles (Spark percentile ≡ DuckDB
    quantile_cont); two tiny per-type aggregations broadcast back onto
    the scan, map-only flagging."""
    ev = _events(spark, sf_dir)
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    rz = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        ev.join(F.broadcast(mad), "event_type")
        .where((F.col("mad") > 0) & (F.abs(rz) > 3.5))
        .select(
            "event_id", "event_type",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.round(rz, 6).alias("robust_z"),
        )
    )


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length distribution in 50-char buckets — the corpus
    profiling pass a training-data pipeline runs before filtering."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            (F.floor(F.col("n_chars") / 50) * 50).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token bigrams by document frequency (per-doc distinct →
    explode → count). The n-gram census over a 100 TB corpus is exactly
    this plan: map-side distinct keeps the shuffle at one row per
    (doc, distinct bigram)."""
    from semantik_spark.functions.text import bm25_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(bm25_tokens("text").alias("toks"))
    sz = F.size("toks")
    width = sz - 1
    zipped = F.arrays_zip(F.slice("toks", 1, width), F.slice("toks", 2, width))
    bigrams = F.when(
        sz >= 2,
        F.array_distinct(F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"]))),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(20)
        .select(
            "ngram", "n_docs",
            F.row_number().over(
                Window.orderBy(F.desc("n_docs"), F.asc("ngram"))
            ).alias("rank"),
        )
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem (nulls / cardinality / extent /
    mean) — one aggregate scan, stack-unpivoted to a row per column."""
    from semantik_spark.operators.profiling import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey"],
    )


def q_state_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run-length encoding of per-user event-type
    streams (SCD-2-style interval history)."""
    return timeseries.state_islands(_events(spark, sf_dir))


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope/intercept/r2 of the top-1000 token frequencies."""
    return textanalysis.zipf_fit(_t(spark, sf_dir, "documents"), top_n=1000)


def q_length_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth token-length bucketing (16 ntiles) with per-bucket
    padding waste — the length-bucketed batching planner."""
    from semantik_spark.operators.training import length_bins

    return length_bins(_t(spark, sf_dir, "documents"), n_bins=16)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-retrieved hard negatives for contrastive training: retrieve
    DEEP (k=50), treat only saturated-grade docs (grade >= 3, i.e.
    tf >= 3) as positives, and emit the top-5 retrieved-but-weak docs
    per query — the classic BM25-negatives construction."""
    retrieved, qrels = _ir_inputs(spark, sf_dir, k=50)
    return metrics.hard_negatives(retrieved, qrels, n=5, min_grade=3)


_KNN_EDGE_MEMO: dict[tuple[str, int], tuple[SparkSession, DataFrame]] = {}


def _knn_edges(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """The exact 5-NN cosine edge table, materialized ONCE per
    (sf_dir, k) and session via localCheckpoint and shared between
    knn_pagerank and knn_triangles — the all-pairs scoring is the
    entire cost of both queries, and the edge list itself is only
    |V|·k rows. Deterministic build, so sharing cannot change results."""
    from semantik_spark.operators.graph import knn_graph_edges

    key = (sf_dir, k)
    hit = _KNN_EDGE_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    edges = knn_graph_edges(_t(spark, sf_dir, "embeddings"), k=k).localCheckpoint()
    _KNN_EDGE_MEMO[key] = (spark, edges)
    return edges


def q_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the directed 5-NN cosine graph of the
    embedding corpus (LexRank-style representative-document scoring);
    5 power iterations from the uniform start."""
    from semantik_spark.operators.graph import pagerank

    # checkpointed once, shared with knn_triangles: all 5 iterations
    # re-join the same materialized edge table
    return pagerank(_knn_edges(spark, sf_dir, k=5), damping=0.85, iterations=5)


def q_event_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association (support/lift) of event-type pairs
    co-occurring in the same gap-based session."""
    return timeseries.session_associations(
        _events(spark, sf_dir), gap_minutes=30, min_pair=5, top_k=20
    )


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-window exponential smoothing of event values per type
    (alpha=0.3, last 8 observations)."""
    return timeseries.ewm_smooth(_events(spark, sf_dir), alpha=0.3, window=8)


def q_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by triangle participation in the undirected 5-NN
    cosine graph (local clustering signal)."""
    from semantik_spark.operators.graph import triangle_counts

    return triangle_counts(_knn_edges(spark, sf_dir, k=5), top_k=20)


def q_knn_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the 5-NN cosine graph
    (graph.adamic_adar_links): top-20 NON-edges ranked by
    Σ 1/ln(deg(common neighbor)), each ln term quantized to integer
    micro-units so the sum is order-free — on the kNN graph this
    surfaces document pairs the k-cutoff split apart (a recall-repair
    signal for the ANN index). Shares the memoized edge table with
    pagerank/triangles/k-core."""
    from semantik_spark.operators.graph import adamic_adar_links

    return adamic_adar_links(_knn_edges(spark, sf_dir, k=5), top_k=20)


def q_knn_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the 5-NN cosine graph
    (graph.degree_assortativity, Newman 2002): do well-connected
    documents neighbor other well-connected documents? All six moments
    are exact integers through DECIMAL(19,0); the only floating ops
    are one sqrt and one division — both correctly-rounded IEEE, so
    the coefficient is bit-identical cross-engine with no
    quantization. Shares the memoized edge table with the other graph
    queries."""
    from semantik_spark.operators.graph import degree_assortativity

    return degree_assortativity(_knn_edges(spark, sf_dir, k=5))


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style union/intersection/Jaccard estimates between
    every pair of event-type user sets from KMV sketches (k=64)."""
    from semantik_spark.operators.sketches import kmv_set_ops

    return kmv_set_ops(_events(spark, sf_dir), "event_type", "user_id", k=64)


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier revenue: six-table join where the
    customer's and supplier's nations must match. Only the truly
    fixed-size dims (nation 25, region 5) and the 10k/SF supplier side
    carry broadcast hints; orders and customer grow linearly with SF
    (1.5M / 150k rows per SF) so they are left to AQE — at small SF it
    broadcasts them anyway, at large SF they shuffle-join instead of
    OOMing a forced broadcast (ADVICE r4)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = _disc_price()
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              (li.l_suppkey == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum(rev).cast("double").alias("revenue"),
             F.count("*").cast("bigint").alias("n_items"))
    )


def q_customer_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranks over customer lifetime order value:
    percent_rank, cume_dist, decile. Global-order window — the
    single-partition sort is |customers| tiny rows (key+value); at
    100 B customers switch to approx quantile cut points."""
    orders = _t(spark, sf_dir, "orders")
    tot = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_dec"))
        .select("o_custkey", F.col("total_dec").cast("double").alias("total_value"))
    )
    w = Window.orderBy(F.desc("total_value"), F.asc("o_custkey"))
    return tot.select(
        F.col("o_custkey").alias("custkey"),
        F.round("total_value", 2).alias("total_value"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


def q_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over (priority, nation): detail + both one-way
    margins + grand total in ONE pass with grouping-id disambiguation
    (rollup_agg / cube_agg cover the other shapes)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    j = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    gs = j.groupingSets(
        [["o_orderpriority", "n_name"], ["o_orderpriority"], ["n_name"], []],
        "o_orderpriority", "n_name",
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_value"),
        (F.grouping("o_orderpriority") * 2 + F.grouping("n_name")).cast("int").alias("gid"),
    )
    return gs.select(
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        "gid", "n_orders", F.round("total_value", 2).alias("total_value"),
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each observation is
    weighted by its holding time (gap to the next observation, capped
    at 600 s; the last observation has no interval and drops out) —
    the market-data TWAP construction. Exact decimal products keep the
    sum order-independent."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lead_us = F.lead(F.unix_micros("ts")).over(w)
    # guard the cap behind the null check: least() IGNORES nulls (both
    # engines), so least(NULL, cap) would silently give the last
    # observation a full cap-width interval instead of dropping it
    gapped = ev.withColumn(
        "w_us",
        F.when(
            lead_us.isNotNull(),
            F.least(lead_us - F.unix_micros("ts"), F.lit(600_000_000)),
        ),
    ).where(F.col("w_us").isNotNull())
    num = F.sum(F.col("value").cast("decimal(18,6)") * F.col("w_us"))
    den = F.sum("w_us")
    return gapped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("twap"),
        F.round(F.avg("value"), 6).alias("plain_avg"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample (k=50, weight =
    n_chars) via Efraimidis-Spirakis hash keys — RNG-free top-k."""
    from semantik_spark.operators.training import weighted_sample

    return weighted_sample(_t(spark, sf_dir, "documents"), k=50)


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT Jaccard join (PPJoin-style, perfect
    recall) over the augmented dedup corpus."""
    return dedup.jaccard_prefix_pairs(_aug_docs(spark, sf_dir), n=3, threshold=0.5)


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-blocked Levenshtein near-duplicates over the augmented
    dedup corpus (head-edit-distance <= 5 within 12-char blocks)."""
    return dedup.fuzzy_pairs(_aug_docs(spark, sf_dir))


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the most recent
    non-purchase event type earlier in the SAME gap-session ('direct'
    when the purchase opens the session); per-touch counts and share.
    The carry-forward uses last(..., ignorenulls) over a preceding-rows
    frame — the same single-shuffle trick as the as-of join."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = ev.withColumn(
        "_new",
        F.when(
            F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double") > 30 * 60, 1
        ).otherwise(0),
    ).withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    ws = (
        Window.partitionBy("user_id", "_sid")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = sess.withColumn(
        "prev_t",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(ws),
    )
    purchases = touched.where(F.col("event_type") == "purchase")
    counts = purchases.groupBy(
        F.coalesce("prev_t", F.lit("direct")).alias("touch")
    ).agg(F.count("*").cast("bigint").alias("n_purchases"))
    total = purchases.agg(F.count("*").cast("double").alias("n_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "touch", "n_purchases",
        F.round(F.col("n_purchases") / F.col("n_total"), 6).alias("share"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User × event-type activity matrix via pivot with an EXPLICIT
    value list (no extra distinct-values job — the 100 TB pivot rule).

    Types outside _EVENT_TYPES fold into an ``n_other`` column rather
    than being silently dropped (ADVICE r4): n_total = sum of ALL
    pivot columns therefore always equals the per-user count(*) the
    oracle computes, even if the events generator grows a new type."""
    ev = _events(spark, sf_dir).withColumn(
        "event_type",
        F.when(F.col("event_type").isin(_EVENT_TYPES), F.col("event_type"))
        .otherwise(F.lit("other")),
    )
    cols = _EVENT_TYPES + ["other"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", cols)
        .count()
        .na.fill(0, cols)
    )
    for t in cols:
        out = out.withColumnRenamed(t, f"n_{t}")
    total = None
    for t in cols:
        c = F.col(f"n_{t}")
        total = c if total is None else total + c
    return out.withColumn("n_total", total.cast("bigint"))


def q_events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once cleanup stats: keep the first event per (user,
    type, 5-minute bucket); per-type kept/dropped accounting."""
    ev = _events(spark, sf_dir).withColumn(
        "bucket", F.floor(F.unix_micros("ts") / F.lit(300_000_000))
    )
    w = Window.partitionBy("user_id", "event_type", "bucket").orderBy("ts", "event_id")
    flagged = ev.withColumn("rn", F.row_number().over(w))
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.lit(1.0) - F.col("n_kept") / F.col("n_events"), 6),
        )
    )


def q_ivm_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance proof: daily counters maintained as
    state(< Jan 16) merged with delta(>= Jan 16) — the oracle is the
    FULL recompute, so a green row certifies merged == recomputed."""
    from semantik_spark.streaming.incremental import daily_counters, merge_counters

    ev = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("date")
    state = daily_counters(ev.where(F.to_date("ts") < cutoff))
    delta = daily_counters(ev.where(F.to_date("ts") >= cutoff))
    return merge_counters(state, delta).select(
        "event_type", "day", "n",
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch relative-accuracy quantiles (alpha=0.02) of event
    values per type — the mergeable bounded-state answer to P50/P90/P99
    at 100 TB (sketches.ddsketch_quantiles; oracle replays the exact
    bucket/rank arithmetic)."""
    from semantik_spark.operators.sketches import ddsketch_quantiles

    return ddsketch_quantiles(_events(spark, sf_dir), "event_type", "value",
                              alpha=0.02, quantiles=(0.25, 0.5, 0.9, 0.99))


def _url_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL corpus derived from doc_ids (mixed-case
    schemes/hosts, userinfo, default and explicit ports, duplicate
    slashes, tracking params, fragments) — generated inside the query
    so the DuckDB oracle replays the identical strings, the
    parse_routed pattern."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    scheme = (F.when(d % 3 == 0, F.lit("HTTP"))
              .when(d % 3 == 1, F.lit("https")).otherwise(F.lit("HTTPS")))
    user = F.when(d % 11 == 0, F.lit("crawler:pw@")).otherwise(F.lit(""))
    # host families exercising every PSL rule class (functions/psl.py):
    # 2-label suffix (.co.uk/.com.au), 3-label suffix (.k12.ca.us),
    # wildcard (*.ck), exception (!www.ck), and the plain-TLD default
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("WWW.Site.Example"), s(d % 7), F.lit(".CO.UK")))
        .when(d % 6 == 1, F.concat(F.lit("Media.Example"), s(d % 7), F.lit(".COM.AU")))
        .when(d % 6 == 2, F.concat(F.lit("Edu.School"), s(d % 7), F.lit(".K12.CA.US")))
        .when(d % 6 == 3, F.concat(F.lit("News.Feed"), s(d % 7), F.lit(".CK")))
        .when(d % 6 == 4, F.lit("Deep.WWW.CK"))
        .otherwise(F.concat(F.lit("WWW.Site.Example"), s(d % 7), F.lit(".COM")))
    )
    port = (F.when(d % 4 == 0, F.lit(":80")).when(d % 4 == 1, F.lit(":443"))
            .when(d % 4 == 2, F.lit(":8080")).otherwise(F.lit("")))
    path = F.concat(F.lit("/Docs//"), s(d % 13),
                    F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")))
    query = (F.when(d % 5 == 0, F.lit("?utm_source=mail&b=2&a=1"))
             .when(d % 5 == 1, F.lit("?b=2&a=1"))
             .when(d % 5 == 2, F.lit("?a=1&b=2&gclid=xyz"))
             .otherwise(F.lit("")))
    frag = F.when(d % 2 == 1, F.concat(F.lit("#sec"), s(d % 3))).otherwise(F.lit(""))
    url = F.concat(scheme, F.lit("://"), user, host, port, path, query, frag)
    return docs.select("doc_id", url.alias("url"))


def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize the messy-URL corpus (operators/urls.py) and report
    the per-domain crawl-frontier profile: raw vs post-dedup canonical
    counts, host fan-out, https share."""
    from semantik_spark.operators.urls import canonical_urls, domain_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return domain_stats(canonical_urls(_url_corpus(docs)))


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting (interval stabbing) via endpoint
    prefix sums: how many user SESSIONS (30-min-gap intervals,
    session_end = last event + gap) are simultaneously open at each
    instant the count changes — every interval contributes +1 at its
    start and -1 at its end, and the running sum over the tiny
    distinct-endpoint axis is the live concurrency. The naive form
    joins a time axis against every interval; this is one endpoint
    groupBy + one ordered window over |endpoints| rows — the
    interval-overlap pattern at its 100 TB shape (peak-concurrency
    capacity planning)."""
    ev = _events(spark, sf_dir).select("user_id", F.unix_micros("ts").alias("us"))
    w_prev = Window.partitionBy("user_id").orderBy("us")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "_new",
        F.when(
            F.col("us") - F.coalesce(F.lag("us").over(w_prev),
                                     F.lit(-(gap_us + 1))) > gap_us,
            1,
        ).otherwise(0),
    )
    w_run = Window.partitionBy("user_id").orderBy("us") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sessions = (
        flagged.withColumn("sid", F.sum("_new").over(w_run))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s"), (F.max("us") + gap_us).alias("e"))
    )
    deltas = (
        sessions.select(F.col("s").alias("us"), F.lit(1).alias("delta"))
        .unionByName(sessions.select(F.col("e").alias("us"),
                                     F.lit(-1).alias("delta")))
        .groupBy("us")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = Window.orderBy("us").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "us", "net",
        F.sum("net").over(w).cast("bigint").alias("concurrent"),
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer days-since-last-order
    (recency, anchored to the corpus max date so it is deterministic),
    order count (frequency), and lifetime total price (monetary), each
    quintile-scored by ntile(5) with custkey tiebreaks — the classic
    marketing segmentation as one groupBy + three windows. Exact
    decimal money sums; ntile on a deterministic total order is
    engine-portable."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("_mx"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_money"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("_mx"), F.col("_last")).cast("int").alias("recency_days"),
            "frequency",
            F.col("_money").cast("double").alias("monetary"),
        )
    )
    wr = Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    wf = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    wm = Window.orderBy(F.desc("monetary"), F.asc("custkey"))
    return base.select(
        "custkey", "recency_days", "frequency",
        F.round("monetary", 2).alias("monetary"),
        F.ntile(5).over(wr).cast("int").alias("r_score"),
        F.ntile(5).over(wf).cast("int").alias("f_score"),
        F.ntile(5).over(wm).cast("int").alias("m_score"),
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts
    including zero-order customers — the left-outer join + two-level
    aggregation pattern (filter on the right side BEFORE the join keeps
    outer semantics identical to Q13's ON-clause filter)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum 1998-Q1 revenue.
    Revenue stays on the exact-decimal path so the = max(...) compare
    is bit-exact; the 1-row max aggregate broadcasts back onto the
    SF-linear revenue table (no global sort, no single-partition
    window)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("r"))
    mx = rev.agg(F.max("r").alias("mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.r == F.col("mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("r").cast("double").alias("total_revenue"))
    )


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count/total balance of LAPSED
    customers — above-average positive balance and no orders since
    2000-07-01 (this generator gives every customer early orders, so
    the classic no-orders-ever predicate is vacuous). The global mean
    is a 1-row broadcast; the compare is cross-multiplied
    (bal * n > sum) so it stays in exact decimal×bigint arithmetic on
    both engines; the no-recent-orders predicate is the distributed
    anti-join with the date filter pushed to the orders scan."""
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    cust = _t(spark, sf_dir, "customer")
    pos = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("s"), F.count("*").cast("bigint").alias("n")
    )
    cand = cust.crossJoin(F.broadcast(pos)).where(bal * F.col("n") > F.col("s"))
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-07-01")
    ).select("o_custkey")
    idle = cand.join(orders, cand.c_custkey == orders.o_custkey, "left_anti")
    nation = _t(spark, sf_dir, "nation")
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(bal).cast("double").alias("total_bal"),
        )
    )


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom-filter join pruning (runtime-filter pattern)
    measured end-to-end: nation-3 customers build a 1024-bit/k=3
    filter, the orders key space probes it, and the report counts the
    false-positive overhang an exact semi-join then discards — no false
    negatives by construction (storage.bloom_prune_stats)."""
    from semantik_spark.operators.storage import bloom_prune_stats

    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_nationkey") == 3
    ).select(F.col("c_custkey").alias("key"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return bloom_prune_stats(orders, cust, "key", n_bits=1024, k=3)


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type event-value means with outliers clamped at the
    DDSketch P5/P95 estimates (sketches.winsorized_stats) — the
    heavy-tail-safe averaging stage, bit-stable via exact-decimal sums
    and the sketch's deterministic cutpoints."""
    from semantik_spark.operators.sketches import winsorized_stats

    return winsorized_stats(_events(spark, sf_dir), "event_type", "value",
                            alpha=0.02, lo_q=0.05, hi_q=0.95)


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume per (supplier nation,
    customer nation, ship year). Both nation copies broadcast (25 rows
    each, SF-fixed); the three SF-linear joins are left to AQE; the
    group domain is bounded at 25x24xyears rows forever."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), sup.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"),
             F.count("*").cast("bigint").alias("n_items"))
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the supplier(s) offering it
    at the minimum observed price — the correlated scalar-min subquery
    (`l_extendedprice = (SELECT min(...) WHERE l_partkey = p_partkey)`)
    decorrelated into a per-part min aggregate joined back. The min
    side aggregates BEFORE the join (map-side combine on l_partkey),
    so only one row per part reaches it; ties surface every minimal
    supplier exactly like the SQL form. Min/equality on raw doubles is
    exact (no arithmetic), so both engines agree on boundary rows."""
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 3).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    ).join(part, F.col("l_partkey") == part.p_partkey, "left_semi")
    mins = li.groupBy(F.col("l_partkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.join(mins, (li.l_partkey == F.col("mk"))
                & (li.l_extendedprice == F.col("min_price")))
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"), "s_suppkey", "s_name",
            F.col("min_price").cast("double").alias("min_price"),
        )
    )


def q_excess_qty_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that dominate some part's trade —
    EXISTS over a correlated aggregate (supplier's shipped quantity of
    a part > 15% of that part's total shipped quantity), decorrelated
    into two partial aggregates joined on l_partkey + a distinct
    semi-join back to supplier. The 15% compare is cross-multiplied in
    exact decimals (20*supplier_qty > 3*total_qty), so both engines
    agree on boundary rows; both aggregates combine map-side and only
    one row per (part, supplier) / part ever shuffles."""
    qty = F.col("l_quantity").cast("decimal(18,2)")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", qty.alias("q"))
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("q").alias("sq"))
    per_p = li.groupBy(F.col("l_partkey").alias("pk")).agg(F.sum("q").alias("tq"))
    dominating = (
        per_ps.join(per_p, per_ps.l_partkey == F.col("pk"))
        .where(F.col("sq") * 20 > F.col("tq") * 3)
        .select("l_suppkey").distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    return sup.join(
        dominating, sup.s_suppkey == dominating.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters end-to-end: the document
    token stream is delivered as FOUR real micro-batches
    (maxFilesPerTrigger=1 under an availableNow trigger), each batch's
    MG(80) summary merged into the ≤80-row persisted state by count
    addition + trim (streaming.incremental.streaming_heavy_hitters),
    then served with the exact recount. The MG merge guarantee makes
    the served answer EXACTLY the batch GROUP BY/HAVING the oracle
    runs, for any batch split — the candidate state, not the corpus,
    is what persisted between batches."""
    import shutil

    from semantik_spark.functions.text import whitespace_tokens
    from semantik_spark.streaming.incremental import (
        heavy_hitters_from_state, stream_files, streaming_heavy_hitters,
    )

    base = _scratch("stream_hh")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(whitespace_tokens("text")).alias("token")
    )
    drop = f"{base}/drop"
    toks.repartition(4).write.parquet(drop)
    q = streaming_heavy_hitters(
        stream_files(spark, drop, "token string", fmt="parquet",
                     max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "token", m=80,
    )
    q.awaitTermination(300)
    return heavy_hitters_from_state(spark, f"{base}/state", toks, "token", m=80)


def q_pipeline_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully config-driven ingest pipeline (VERDICT r5 missing #3):
    every stage referenced BY NAME in a JSON document, resolved through
    the plugin registry (semantik_spark/plugins.py — reference
    shared/plugins/protocols.py + discovery), validated and executed by
    the P1/P3 DAG machinery. Zero Python in the config path: chunker
    'fixed' 200/50 then embedder 'mock_dense' over chunk content; the
    oracle replays both stages (the chunk_fixed span arithmetic + the
    sha256 mock-embedding formula) in SQL."""
    import json as _json

    from semantik_spark import plugins
    from semantik_spark.plans.dag import Edge, Node, PipelineDAG, compile_pipeline

    config = _json.loads("""
    {"chunker": {"kind": "chunker", "name": "fixed",
                 "params": {"chunk_size": 200, "overlap": 50}},
     "embedder": {"kind": "embedder", "name": "mock_dense",
                  "params": {"text_col": "content"}}}
    """)
    dag = PipelineDAG(
        nodes=[Node("c1", "chunker", {}), Node("e1", "embedder", {})],
        edges=[Edge("__entry__", "c1", path_name="default"), Edge("c1", "e1")],
    )
    run = compile_pipeline(dag, plugins.pipeline_stage_fns(config))
    out = run(_t(spark, sf_dir, "documents"))["default"]
    return out.select(
        "doc_id", "chunk_id", "chunk_index", "token_count",
        F.round(F.element_at("embedding", 1), 6).alias("emb0"),
    )


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-identical names (Levenshtein=1) across the part
    and supplier name spaces via deletion-neighborhood blocking
    (dedup.edit_distance_pairs) — the entity-resolution primitive; the
    oracle is the brute-force Levenshtein all-pairs join, so a green
    row proves the blocking generated EVERY qualifying pair."""
    from semantik_spark.operators.dedup import edit_distance_pairs

    names = _t(spark, sf_dir, "part").select(F.col("p_name").alias("s")).unionByName(
        _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("s"))
    )
    return edit_distance_pairs(names, "s")


def q_unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer vocabulary (Kudo 2018 seed phase,
    tokenizer.unigram_train): substring-frequency-estimated piece
    probabilities over the top-1000-word sample — all single chars +
    top-120 multi-char pieces, costs in integer micro-nats so Viterbi
    sums are engine-exact."""
    from semantik_spark.operators.tokenizer import unigram_train

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_train(docs, vocab_size=120, max_piece_len=5,
                         sample_words=1000)


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Viterbi segmentation of the top-30 sampled words under
    the unigram-LM seed vocabulary (tokenizer.unigram_encode_words,
    Arrow-batched integer DP). The oracle unrolls the whole DP —
    position-by-position best-cost lattice plus the backpointer walk —
    in pure SQL, the BPE-oracle discipline applied to Viterbi."""
    from semantik_spark.operators.tokenizer import (
        unigram_encode_words, unigram_train, word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pieces = unigram_train(docs, vocab_size=120, max_piece_len=5,
                           sample_words=1000)
    sampled = (
        word_frequencies(docs)
        .orderBy(F.desc("freq"), F.asc("word")).limit(1000)
    )
    ew = (
        sampled.where(F.length("word") <= 20)
        .orderBy(F.desc("freq"), F.asc("word")).limit(30)
    )
    return unigram_encode_words(ew, pieces, max_piece_len=5)


def q_unigram_em_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM round of the unigram-LM trainer, driver-checkable:
    Viterbi-decode ALL length-capped sampled words under the seed
    costs (E-step usage counts), re-estimate piece probabilities with
    the single-char floor (M-step), then encode the top-30 words under
    the REFINED vocabulary (tokenizer.unigram_em_refine rounds=1 +
    unigram_encode_words). The oracle unrolls BOTH Viterbi lattices
    plus the usage/re-normalization step in pure SQL (~90 materialized
    CTEs) — EM itself becomes a driver-hash row, not just a unit
    test."""
    from semantik_spark.operators.tokenizer import (
        unigram_em_refine, unigram_encode_words, unigram_train,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pieces = unigram_train(docs, vocab_size=120, max_piece_len=5,
                           sample_words=1000)
    sampw = (
        word_frequencies(docs)
        .orderBy(F.desc("freq"), F.asc("word")).limit(1000)
        .where(F.length("word") <= 20)
    )
    refined = unigram_em_refine(pieces, sampw, rounds=1, max_piece_len=5)
    ew = sampw.orderBy(F.desc("freq"), F.asc("word")).limit(30)
    return unigram_encode_words(ew, refined, max_piece_len=5)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility (pieces per word, chars per
    token) under the 8-merge BPE vocabulary — the tokenizer-eval
    metric that prices each corpus slice's training cost
    (tokenizer.bpe_fertility); exact integer counts, the encode runs
    over the distinct-word vocab only."""
    from semantik_spark.operators.tokenizer import (
        bpe_fertility, bpe_train_sampled,
    )

    docs = _t(spark, sf_dir, "documents")
    _, merges = bpe_train_sampled(docs.select("doc_id", "text"),
                                  num_merges=8, sample_words=1_000_000)
    return bpe_fertility(docs, merges)


def q_bpe_merges_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION BPE trainer (tokenizer.bpe_train_sampled — r7): the
    distributed corpus pass feeds a deterministic top-N word sample
    trained DRIVER-LOCAL (K dict updates instead of K sequential Spark
    jobs — the GPT-2/SentencePiece shape), with the distributed
    trainer's exact tie-breaks. Sample bound set above the corpus
    vocab here, so the oracle is the same unrolled training replay as
    bpe_merges — a green row proves local == distributed at driver
    level."""
    from semantik_spark.operators.tokenizer import bpe_train_sampled

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges, _ = bpe_train_sampled(docs, num_merges=8, sample_words=1_000_000)
    return merges


def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece max-munch encoding (tokenizer.wordpiece_encode_words):
    the top-30 corpus words encoded greedily longest-match-first over
    vocab = training alphabet ∪ merged pieces. Unlike BPE (whose
    encoder replays merges and must equal the final training state),
    max-munch is vocab-driven — the oracle unrolls the consume loop in
    SQL (each step eats the longest matching piece), so a green row
    value-checks BERT's runtime tokenizer semantics themselves."""
    from semantik_spark.operators.tokenizer import (
        _wp_initial_state, word_frequencies, wordpiece_encode_words,
        wordpiece_train, wordpiece_vocab)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE corpus word-frequency pass shared between training, the vocab
    # build, and the top-30 selection (training used to run its own
    # identical scan); localCheckpoint because wf feeds three consumers
    wf = word_frequencies(docs).localCheckpoint()
    merges, _ = wordpiece_train(docs, num_merges=8, wordfreq=wf)
    vocab = wordpiece_vocab(_wp_initial_state(wf), merges)
    top = wf.orderBy(F.desc("freq"), F.asc("word")).limit(30).select("word")
    return wordpiece_encode_words(top, vocab)


def q_bpe_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary encoding (tokenizer.encode_words): the top-30
    corpus words encoded by the Arrow-batched mapInPandas encoder with
    the merges learned by bpe_train. The oracle replays training in
    SQL and reads the FINAL STATE — the sequential encoder applies
    merges in rank order, so for training words it must equal that
    state bit-for-bit; a green row therefore value-checks the Python
    encoder UDF itself against the pure-SQL replay."""
    from semantik_spark.operators.tokenizer import (bpe_train, encode_words,
                                                    word_frequencies)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE corpus word-frequency pass shared between training and the
    # top-30 selection (training used to run its own identical scan)
    wf = word_frequencies(docs).localCheckpoint()
    merges_df, _ = bpe_train(docs, num_merges=8, wordfreq=wf)
    mlist = [(r["left_sym"], r["right_sym"])
             for r in merges_df.orderBy("merge_rank").collect()]
    top = wf.orderBy(F.desc("freq"), F.asc("word")).limit(30)
    return encode_words(top, mlist).select(
        "word",
        "freq",
        F.concat_ws(" ", "pieces").alias("encoded"),
        F.size("pieces").cast("bigint").alias("n_pieces"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) for resampling the
    corpus toward the English subset: hashed unigram+bigram bucket
    models (target vs raw), per-doc log-importance as exact decimal
    sums of 6dp-rounded bucket log ratios (training.dsir_weights).
    English docs score highest on average — asserted in tests."""
    from semantik_spark.operators.training import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.where(F.col("lang") == "en"))


def q_streaming_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min end-to-end: the document token stream
    delivered as FOUR real micro-batches (maxFilesPerTrigger=1,
    availableNow), each batch's 4x256 cell table merged into the
    persisted state by cell-wise count addition
    (streaming.incremental.streaming_count_min) — bit-identical to the
    batch sketch for any split, so the oracle replays the BATCH cells
    and the served estimates must match exactly."""
    import shutil

    from semantik_spark.functions.text import whitespace_tokens
    from semantik_spark.streaming.incremental import (
        count_min_state_estimates, stream_files, streaming_count_min,
    )

    base = _scratch("stream_cm")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(whitespace_tokens("text")).alias("term")
    )
    drop = f"{base}/drop"
    toks.repartition(4).write.parquet(drop)
    q = streaming_count_min(
        stream_files(spark, drop, "term string", fmt="parquet",
                     max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "term", depth=4, width=256,
    )
    q.awaitTermination(300)
    probes = (
        toks.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("term"))
        .limit(30)
        .select("term")
    )
    return count_min_state_estimates(
        spark, f"{base}/state", probes, "term", depth=4, width=256
    )


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtesting-safe temporal split with a 2-day embargo
    (training.temporal_split, the purged-split pattern): cutoff at
    8/10 of the event-time span in exact integer microseconds (a
    timestamp quantile would interpolate in floating point), embargo
    rows discarded by the consumer. Returns the per-(split,
    event_type) audit: counts, distinct users, and the split's time
    extent — the time-dimension complement to dataset_split (content
    hash) and leakage_safe_split (near-dup clusters)."""
    from semantik_spark.operators.training import temporal_split

    out = temporal_split(_events(spark, sf_dir), "ts",
                         train_tenths=8, embargo_us=2 * 86_400_000_000)
    return out.groupBy("split", "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.min(F.unix_micros("ts")).alias("min_us"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )


def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog end-to-end: the (event_type, user_id)
    stream delivered as FOUR real micro-batches
    (maxFilesPerTrigger=1, availableNow), each batch's register table
    merged into persisted state by register-wise MAX
    (streaming.incremental.streaming_hll). The lattice merge is
    idempotent — unlike the additive Count-Min/DDSketch states this
    sketch absorbs at-least-once re-delivery for free — and equals the
    batch sketch for ANY split, so the oracle replays the BATCH
    registers and the served estimates must hash-match exactly."""
    import shutil

    from semantik_spark.streaming.incremental import (
        hll_state_estimates, stream_files, streaming_hll,
    )

    base = _scratch("stream_hll")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_type", "user_id")
    drop = f"{base}/drop"
    ev.repartition(4).write.parquet(drop)
    q = streaming_hll(
        stream_files(spark, drop, "event_type string, user_id bigint",
                     fmt="parquet", max_files_per_trigger=1),
        f"{base}/state", f"{base}/ckpt", "event_type", "user_id", p=8,
    )
    q.awaitTermination(300)
    return hll_state_estimates(
        spark, f"{base}/state", group_col="event_type", p=8)


def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT dedup end-to-end (streaming.incremental.
    streaming_dedup → dropDuplicatesWithinWatermark): the
    (event_type, user_id) stream arrives as three real micro-batches
    and every re-occurrence of a key inside the watermark horizon is
    dropped by the engine's own bounded dedup state. The horizon is set
    beyond the corpus span here so the accumulated append output is
    EXACTLY the distinct key set (first arrival per key) and the batch
    DISTINCT oracle hash-pins it; production sets the horizon to the
    re-delivery window and the state stays O(keys-per-horizon) — the
    operator's bounded-state contract is separately unit-pinned
    (tests/test_streaming.py drops an in-horizon duplicate)."""
    import shutil

    from semantik_spark.streaming.incremental import (
        stream_files, streaming_dedup)

    base = _scratch("stream_exact_dedup")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("ts", "event_type", "user_id")
    drop = f"{base}/drop"
    ev.repartition(3).write.parquet(drop)
    deduped = streaming_dedup(
        stream_files(spark, drop,
                     "ts timestamp, event_type string, user_id bigint",
                     fmt="parquet", max_files_per_trigger=1),
        ["event_type", "user_id"],
        watermark_minutes=1_000_000,  # horizon > corpus span: == DISTINCT
    ).select("event_type", "user_id")
    q = (deduped.writeStream.format("parquet")
         .option("path", f"{base}/out")
         .option("checkpointLocation", f"{base}/ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.read.parquet(f"{base}/out").select("event_type", "user_id")


def q_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection AT INGESTION: the augmented doc corpus
    (planted +10000 duplicates) streams in as TWO micro-batches; each
    batch's MinHash signatures probe the persisted signature state and
    append matches (streaming.incremental.streaming_lsh_dedup). The
    accumulated match log equals the one-shot signature-level LSH over
    all docs for ANY batch split — the oracle replays exactly that.
    Two batches, not four (VERDICT r7 item 3, the 34cd688 recipe): the
    state-probe path still exercises batch x state UNION batch-internal
    on batch 2, and per-batch overhead (state parquet round-trip,
    localCheckpoint, two writes) is micro-batch scheduler constants, so
    halving the batch count halves fixed cost without touching the
    any-split correctness contract. Shuffle partitions scoped to 8 for
    the in-batch band joins — batch cardinality is ~5.5k band rows at
    bench SF, where 32-way exchanges are pure task overhead."""
    import shutil

    from semantik_spark.streaming.incremental import (
        lsh_matches, stream_files, streaming_lsh_dedup,
    )

    base = _scratch("stream_lsh")
    drop = f"{base}/drop"
    # the drop is a deterministic function of sf_dir — keep it across
    # calls (bench runs 3 reps; rebuilding it was ~2s/rep of pure input
    # prep), but always reset state/ckpt/matches for idempotence
    import os
    marker = f"{drop}/_written_for"
    if not (os.path.exists(marker)
            and open(marker).read() == sf_dir):
        shutil.rmtree(base, ignore_errors=True)
        _aug_docs(spark, sf_dir).repartition(2).write.parquet(drop)
        with open(marker, "w") as fh:
            fh.write(sf_dir)
    for sub in ("state", "ckpt", "matches"):
        shutil.rmtree(f"{base}/{sub}", ignore_errors=True)
    with _scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = streaming_lsh_dedup(
            stream_files(spark, drop, "doc_id bigint, text string",
                         fmt="parquet", max_files_per_trigger=1),
            f"{base}/state", f"{base}/ckpt", f"{base}/matches",
            num_hashes=16, bands=4, n=3, threshold=0.5,
        )
        q.awaitTermination(300)
    return lsh_matches(spark, f"{base}/matches")


def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click emits —
    matched ones eagerly, unconverted ones NULL-padded only once the
    two-sided watermark PROVES no purchase can still arrive inside the
    1-day window (the outer-emission semantics unique to streaming
    joins). A far-future sentinel row appended to both drops advances
    the watermark past the horizon at end-of-replay, flushing the
    unmatched tail (streaming.incremental append_drop_file), so the
    log equals the batch LEFT JOIN exactly."""
    import shutil
    from datetime import datetime

    from semantik_spark.streaming.incremental import (
        append_drop_file, stream_files, stream_interval_join,
        write_time_ordered_drop,
    )

    base = _scratch("stream_ssj_outer")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    sentinel = spark.createDataFrame(
        [(-1, datetime(2024, 12, 31), -1, "sentinel")],
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
    )
    for side, etype in (("clicks", "click"), ("purchases", "purchase")):
        write_time_ordered_drop(ev.where(F.col("event_type") == etype),
                                f"{base}/{side}", n_files=2)
        append_drop_file(sentinel, f"{base}/{side}")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    with _scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = stream_interval_join(
            stream_files(spark, f"{base}/clicks", schema, fmt="parquet",
                         max_files_per_trigger=1),
            stream_files(spark, f"{base}/purchases", schema, fmt="parquet",
                         max_files_per_trigger=1),
            f"{base}/joined", f"{base}/ckpt",
            key="user_id", max_lag_minutes=1440, watermark_minutes=5760,
            join_type="left_outer",
        )
        q.awaitTermination(300)
    return (
        spark.read.parquet(f"{base}/joined")
        .where(F.col("left_id") != -1)  # drop the sentinel's own row
        .select(F.col("key").alias("user_id"),
                F.col("left_id").alias("click_id"),
                F.col("right_id").alias("purchase_id"), "lag_us")
    )


def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64d -> 16d
    (projection.jl_projection): deterministic md5-parity sign matrix,
    per-vector norm-distortion witness. The data-independent
    complement to M7's trained PCA — nothing to fit or store, map-only
    at any scale.

    Output is posexploded to scalar rows (vec_id, pos, component,
    norm_ratio) per the repo's flatten-arrays convention (see
    q_sparse_vectors): the driver canonicalizer sorts rows by every
    column and cannot hash a top-level ARRAY (VERDICT r6 #1)."""
    from semantik_spark.operators.projection import jl_projection

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    proj = jl_projection(emb, out_dim=16, dim=64)
    return proj.select(
        "vec_id",
        F.posexplode("proj").alias("pos", "component"),
        "norm_ratio",
    )


def q_logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression quality scorer
    (classify.logreg_hashed_scores): hashed bag-of-words into 64
    buckets, 3 full-batch GD steps from w=0, every margin/gradient an
    exact 6dp-quantized decimal sum so the DuckDB oracle replays the
    training loop bit-for-bit (unrolled CTEs, the BPE-oracle
    strategy). Label = n_chars > 311 (the corpus median): the
    synthetic corpus draws all langs from ONE 31-token vocabulary, so
    the length class is the only learnable label — it proves the
    trainer learns (AUC 0.998 at sf0.001) where a lang label would
    only prove the data is random. Real deployments swap in
    human/heuristic quality labels via the `label` Column arg."""
    from semantik_spark.operators.classify import logreg_hashed_scores

    docs = _t(spark, sf_dir, "documents")
    return logreg_hashed_scores(docs, F.col("n_chars") > 311,
                                buckets=64, iters=3, lr=0.05)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the augmented embedding table
    (planted exact duplicates at vec_id+10000, the dedup_embedding
    fixture): k-means cells (IVF codebook, 1 Lloyd step), duplicate
    pairs searched within cells only, kept=false for the larger id of
    any pair at cosine >= 0.95 (dedup.semdedup). Every planted dup
    lands in its original's cell (identical vector => identical
    assignment), so exactly the 10000+ ids drop — asserted in tests."""
    from semantik_spark.operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return semdedup(emb.unionByName(dups), threshold=0.95)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021
    App. A2) per document — word-count/word-length bounds, symbol and
    bullet/ellipsis ratios, alpha-word fraction, stop-word presence —
    as one map-only Column pass with exact cross-multiplied ratio
    tests (textanalysis.gopher_rules). Engine-native: the reference's
    curation is its own rule chain, not Gopher's."""
    from semantik_spark.operators.textanalysis import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE stateful sessionization as a stream (session_window +
    watermark — the engine-managed gap-merge state, §2.12): events
    replay as two time-ordered micro-batches; sessions emit in append
    mode once the watermark proves their gap closed, and the far-future
    sentinel flushes the tail (the outer-join discipline applied to
    stateful aggregation). The emitted log equals batch gaps-and-islands
    sessionization exactly — session_end is last event + gap, Spark's
    session_window contract, mirrored in the oracle."""
    import shutil
    from datetime import datetime

    from semantik_spark.streaming.incremental import (
        append_drop_file, session_windows_stream, stream_files,
        write_time_ordered_drop,
    )

    base = _scratch("stream_sess")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id")
    write_time_ordered_drop(ev, f"{base}/drop", n_files=2)
    append_drop_file(
        spark.createDataFrame([(-1, datetime(2024, 12, 31), -1)],
                              "event_id bigint, ts timestamp, user_id bigint"),
        f"{base}/drop",
    )
    schema = "event_id bigint, ts timestamp, user_id bigint"
    with _scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            session_windows_stream(
                stream_files(spark, f"{base}/drop", schema, fmt="parquet",
                             max_files_per_trigger=1),
                gap_minutes=30, watermark_minutes=60,
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", f"{base}/sessions")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.read.parquet(f"{base}/sessions")
        .where(F.col("user_id") != -1)  # drop the sentinel's own session
        .select("user_id", "session_start", "session_end", "n_events")
    )


def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintained as a STREAM: the order-update log
    replays as two time-ordered micro-batches, each folded into the
    persisted version history via scd2_merge
    (streaming.incremental.streaming_scd2). Range files keep equal
    timestamps together, so the strictly-later frontier contract holds
    per batch and the final state equals the full-log rebuild — the
    oracle is the batch scd2_orders rebuild verbatim."""
    import shutil

    from semantik_spark.streaming.incremental import (
        stream_files, streaming_scd2, write_time_ordered_drop,
    )

    base = _scratch("stream_scd2")
    shutil.rmtree(base, ignore_errors=True)  # idempotent per call
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    write_time_ordered_drop(orders, f"{base}/drop", n_files=2)
    schema = "custkey bigint, priority string, ts timestamp, seq bigint"
    with _scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = streaming_scd2(
            stream_files(spark, f"{base}/drop", schema, fmt="parquet",
                         max_files_per_trigger=1),
            f"{base}/state", f"{base}/ckpt",
            "custkey", ["priority"], "ts", "seq",
        )
        q.awaitTermination(300)
    return (
        spark.read.parquet(f"{base}/state")
        .select("custkey", "priority", "valid_from", "valid_to",
                "version", "is_current")
    )


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detection per event type (Page
    control chart, k=0.5σ slack, h=4σ threshold) — the telemetry
    change-point monitor. The recursion S⁺=max(0,S⁺+d) is computed
    closed-form via the reflected-walk prefix-sum identity, so the
    whole chart is two ordered-window passes over ONE event-type
    shuffle; all running sums are DECIMAL(28,6) for cross-engine
    bit-exactness (timeseries.cusum_changepoints)."""
    return timeseries.cusum_changepoints(_events(spark, sf_dir))


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (Delta/Iceberg OPTIMIZE shape):
    documents modeled as the catalog listing (source = table
    partition, byte length = file size), candidates under 500 B
    packed into ~2 KB rewrite bins by the deterministic FFD-order
    cumulative-quota rule (storage.compaction_plan). One shuffle on
    the partition key, over catalog metadata only."""
    from semantik_spark.operators import storage

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "source", F.col("doc_id").alias("file_id"),
        F.octet_length("text").alias("size_bytes"),
    )
    return storage.compaction_plan(files, "source", "file_id", "size_bytes",
                                   target_bytes=2000, small_below=500)


def q_knn_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over
    the undirected 5-NN cosine graph (4 rounds, ties → smallest
    label) — the neighborhood-majority clustering signal between
    connected components (too coarse) and k-means (needs a k). Each
    round is one adjacency⋈labels equi-join + per-node arg-max; the
    adjacency list is loop-invariant (graph.label_propagation)."""
    from semantik_spark.operators.graph import label_propagation

    return label_propagation(_knn_edges(spark, sf_dir, k=5), iterations=4)


def q_knn_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the undirected 5-NN cosine graph via 8
    h-index rounds (graph.kcore_numbers, Montresor et al. 2013): exact
    core numbers (the iteration converges well inside 8 rounds here),
    separating dense-core vectors from low-core outlier tendrils —
    the degeneracy signal LPA communities and triangle counts don't
    give. Per round: one adjacency equi-join + per-node window, only
    |V| estimate rows move."""
    from semantik_spark.operators.graph import kcore_numbers

    return kcore_numbers(_knn_edges(spark, sf_dir, k=5), rounds=8)


def q_knn_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the 5-NN cosine graph (Haveliwala
    2002): teleport lands on the deterministic seed set (vec_id % 50
    == 10), scores measure graph proximity to the seeds — the
    seed-expansion primitive that turns a handful of labeled docs into
    a ranked neighborhood (graph.personalized_pagerank)."""
    from semantik_spark.operators.graph import personalized_pagerank

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    seeds = emb.where(F.col("vec_id") % 50 == 10).select(
        F.col("vec_id").alias("id"))
    return personalized_pagerank(_knn_edges(spark, sf_dir, k=5), seeds,
                                 damping=0.85, iterations=5)


def q_cdc_chunks_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production content-defined chunking (VERDICT r6 item 6):
    chunking.content_defined_chunks_scan — ONE mapInPandas pass per
    doc (no per-character row explosion, no anchor shuffle; plan is
    Exchange-free, test-asserted) with rule='md5', which reproduces
    the spec operator's boundaries exactly (equality test-pinned).
    The oracle replays the boundary rule in SQL, so this row proves
    the fused scan against DuckDB directly."""
    return chunking.content_defined_chunks_scan(
        _t(spark, sf_dir, "documents"), rule="md5")


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup yield per source (rsync/restic
    boundary rule: trailing-16-char fingerprint % 64 == 0): how many
    byte ranges a CDC-addressed store would store once. Boundaries
    move with content, so edits re-chunk only the touched spans —
    the storage twin of semantic chunking (chunking.cdc_dedup_stats;
    anchor scan is pure codegen'd Column work)."""
    return chunking.cdc_dedup_stats(_t(spark, sf_dir, "documents"))


def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend line (slope in value-units/day,
    intercept, r²) from five decimal-exact sufficient statistics in
    one shuffle — the drift summary behind every telemetry dashboard.
    x is recentred to seconds-since-first-event per key so squared
    sums stay exact (timeseries.trend_ols)."""
    return timeseries.trend_ols(_events(spark, sf_dir))


def q_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: the SCD2 customer-priority chain
    snapshotted AS OF 1997-07-01 (scd.scd2_as_of), hydrated with the
    customer dim and aggregated by (nation, priority-as-of-then) —
    'reproduce the cohort as it was' for training-set reproducibility.
    The snapshot filter is two range predicates on the version table;
    nation is a broadcast dim."""
    from semantik_spark.operators import scd

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    hist = scd.scd2_history(orders, "custkey", ["priority"], "ts", "seq")
    snap = scd.scd2_as_of(hist, "1997-07-01")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        snap.join(cust, snap.custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "priority")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hybrid (mock-dense + BM25) RRF search on sf0.001."""
    _pin_session_confs(spark)
    return q_hybrid_rrf(spark, "/root/testdata/sf0.001")


def _fresh(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release every cache the PREVIOUS query registered before this
    one runs (caching.release_all) — the driver executes 50 queries in
    one session, and persisted intermediates otherwise accumulate in
    executor storage for the whole run (VERDICT r4 "what's wrong" #4).
    Safe because the previous query's result was already collected."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_all()
        # every query runs under the same pinned session confs, so no
        # query's result can depend on which queries ran before it
        _pin_session_confs(spark)
        return fn(spark, sf_dir)

    return wrapped


class _FakeImapClient:
    """Deterministic in-memory imaplib-protocol stub for the S3 oracle
    gate — implements exactly the ImapClient protocol surface
    (sources/imap.py:40-41: select + uid search/fetch) over a fixed
    uid→raw-bytes dict, so enumerate_mailbox runs its real parsing,
    batching and cursor logic against replayable data."""

    def __init__(self, messages: dict[int, bytes]) -> None:
        self._messages = dict(messages)

    def select(self, mailbox: str, readonly: bool = True):
        return "OK", [str(len(self._messages)).encode()]

    def uid(self, command: str, *args):
        if command == "search":
            criterion = args[-1]
            uids = sorted(self._messages)
            if criterion.startswith("UID "):
                lo = int(criterion.split()[1].split(":")[0])
                # real servers answer N:* with the LAST message even
                # when N > max — reproduce that quirk so the connector's
                # cursor guard is actually exercised
                hit = [u for u in uids if u >= lo] or uids[-1:]
            else:
                hit = uids
            return "OK", [" ".join(str(u) for u in hit).encode()]
        if command == "fetch":
            out = []
            for u in (int(x) for x in args[0].split(",")):
                raw = self._messages.get(u)
                if raw is not None:
                    out.append((f"{u} (UID {u} RFC822 {{{len(raw)}}}".encode(), raw))
                    out.append(b")")
            return "OK", out
        raise ValueError(f"unsupported uid command {command}")


def q_source_file_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6+S1+S4 oracle gate (VERDICT r11 item 7): a deterministic
    fixture tree derived from the documents table — nested dirs,
    five extension classes, dot-prefixed hidden files — enumerated
    through the real local connector with an extension allowlist and a
    280-byte size cap. The manifest (name, ext, mime, size, sha256)
    must equal the DuckDB replay of the same derivation + filters:
    .log rows fall to the extension filter, hidden rows to the
    dot-file rule, long docs to the size cap. The fixture write is a
    bounded driver loop (|documents|/19 rows — the parse_routed
    fixture discipline); enumeration itself is the distributed
    binaryFile scan."""
    import os
    import shutil

    from semantik_spark.sources.local import enumerate_files

    root = os.path.join(_scratch("src_filters"), "tree")
    shutil.rmtree(root, ignore_errors=True)
    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 19 == 3)
        .select("doc_id", "text")
        .collect()
    )
    exts = {0: ".txt", 1: ".md", 2: ".json", 3: ".log", 4: ".txt"}
    for r in rows:
        d, c = r["doc_id"], r["doc_id"] % 5
        name = ("." if c == 4 else "") + f"doc_{d}{exts[c]}"
        sub = os.path.join(root, "a" if d % 2 == 0 else os.path.join("b", "sub"))
        os.makedirs(sub, exist_ok=True)
        with open(os.path.join(sub, name), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    out = enumerate_files(
        spark, root, extensions=(".txt", ".md", ".json"), max_size_bytes=280
    )
    return out.select(
        "file_name", "extension", "mime_type", "size_bytes", "content_hash"
    )


def q_source_git_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 oracle gate (VERDICT r11 item 7): a two-commit fixture repo
    derived from the documents table, enumerated through the real git
    connector (clone -> distributed binaryFile scan joined with the
    broadcast ls-tree blob manifest, include-globs src/* docs/*), once
    per commit into separate clones. The output anti-joins the two
    manifests on blob-SHA change_hint — exactly the J4 change-detection
    contract the hint exists for — so every row carries added/changed/
    same plus the commit-B size and sha256. The DuckDB twin replays the
    statuses from the doc_id arithmetic: a broken blob-SHA (collision,
    stale manifest, glob leak) flips a status and fails the hash. Blob
    SHAs depend only on content, so no commit-metadata pinning is
    needed; notes/* files prove the exclude side of the glob filter."""
    import os
    import shutil
    import subprocess

    from semantik_spark.sources.git import enumerate_repo

    base = _scratch("src_git")
    repo = os.path.join(base, "fixture")
    for p in ("work_a", "work_b", "fixture"):
        shutil.rmtree(os.path.join(base, p), ignore_errors=True)
    os.makedirs(repo)

    def _git(*args: str) -> None:
        # core.autocrlf=false: the gate is hermetic across host git
        # configs (ADVICE r12 — a CRLF-converting global gitconfig
        # would change blob/working-tree bytes vs the written UTF-8)
        subprocess.run(
            ["git", "-c", "user.email=fixture@example.com",
             "-c", "user.name=fixture", "-c", "core.autocrlf=false", *args],
            cwd=repo, check=True, capture_output=True, timeout=600,
        )

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 23 == 1)
        .select("doc_id", "text")
        .collect()
    )

    def _write(rel: str, content: str) -> None:
        full = os.path.join(repo, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as fh:
            fh.write(content.encode("utf-8"))

    paths = {0: "src/doc_{d}.py", 1: "docs/doc_{d}.md", 2: "notes/doc_{d}.txt"}
    _git("init", "-q")
    for r in rows:
        _write(paths[r["doc_id"] % 3].format(d=r["doc_id"]), r["text"])
    _git("add", "-A")
    _git("commit", "-q", "-m", "commit A")
    a = enumerate_repo(
        spark, repo, os.path.join(base, "work_a"),
        include_globs=("src/*", "docs/*"),
    ).select("rel_path", F.col("change_hint").alias("hint_a"))
    for r in rows:
        d = r["doc_id"]
        if d % 4 == 2:  # modified in commit B
            _write(paths[d % 3].format(d=d), r["text"] + "\nrev2")
        if d % 4 == 3:  # added in commit B (always under src/ -> included)
            _write(f"src/new_{d}.py", "new " + r["text"])
    _git("add", "-A")
    _git("commit", "-q", "-m", "commit B")
    b = enumerate_repo(
        spark, repo, os.path.join(base, "work_b"),
        include_globs=("src/*", "docs/*"),
    )
    status = (
        F.when(F.col("hint_a").isNull(), F.lit("added"))
        .when(F.col("hint_a") != F.col("change_hint"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        b.join(F.broadcast(a), "rel_path", "left")
        .select("rel_path", status.alias("status"), "size_bytes", "content_hash")
    )


def q_source_imap_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 oracle gate (VERDICT r11 item 7): a deterministic RFC822
    mailbox derived from the documents table (uid = doc_id, fixed
    header templates, body = first 200 chars) served by an in-memory
    imaplib-protocol stub, synced through the real connector with
    last_seen_uid = max(uid)/2 — so the output IS the incremental
    slice, UID-range search, batched RFC822 fetch, cursor guard and
    stdlib header decode included. Every fifth subject is a Q-encoded
    word (=?utf-8?q?...?=) so C11 header decoding is value-checked;
    size_bytes is the full raw-message byte length, which the DuckDB
    twin reconstructs header-for-header."""
    from datetime import datetime, timedelta, timezone
    from email.utils import format_datetime

    from semantik_spark.sources.imap import mailbox_documents

    rows = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 17 == 2)
        .select("doc_id", "text")
        .collect()
    )
    msgs: dict[int, bytes] = {}
    for r in rows:
        d = r["doc_id"]
        subj = f"=?utf-8?q?Report_{d}?=" if d % 5 == 0 else f"Report {d}"
        dt = datetime(1998, 1, 1, tzinfo=timezone.utc) + timedelta(minutes=d)
        head = (
            f"From: sender{d % 7}@example.com\r\n"
            f"To: team@example.com\r\n"
            f"Subject: {subj}\r\n"
            f"Date: {format_datetime(dt)}\r\n"
            f"MIME-Version: 1.0\r\n"
            f"Content-Type: text/plain; charset=utf-8\r\n\r\n"
        )
        msgs[d] = head.encode("ascii") + r["text"][:200].encode("utf-8")
    cursor = max(msgs) // 2
    out = mailbox_documents(
        spark, _FakeImapClient(msgs), "fixture.example.com",
        last_seen_uid=cursor,
    )
    return out.select(
        "uid", "size_bytes", "subject", "from_addr", "to_addr", "sent_at",
        F.col("text").alias("body"), "parse_status",
    )


from semantik_spark.config import LANG_STOPWORDS  # noqa: E402

_LANGSETS = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in LANG_STOPWORDS.items()
}

_ORACLE_LANG_ID = f"""
WITH rt AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{oracles.TOKEN_PATTERN}') AS toks FROM documents
), hits AS (
  SELECT doc_id,
         len(list_filter(toks, t -> list_contains({_LANGSETS['de']}, t)))::BIGINT AS h_de,
         len(list_filter(toks, t -> list_contains({_LANGSETS['en']}, t)))::BIGINT AS h_en,
         len(list_filter(toks, t -> list_contains({_LANGSETS['es']}, t)))::BIGINT AS h_es,
         len(list_filter(toks, t -> list_contains({_LANGSETS['fr']}, t)))::BIGINT AS h_fr
  FROM rt
)
SELECT doc_id,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'unknown'
            WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
            WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
            WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
            ELSE 'de' END AS lang_pred,
       greatest(h_de, h_en, h_es, h_fr) AS lang_hits
FROM hits"""

_PUNCT = oracles.PUNCT_CLASS

_ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         length(text)::BIGINT AS n_chars,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0))::BIGINT AS n_words,
         length(regexp_replace(text, '[^{_PUNCT}]', '', 'g'))::BIGINT AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digits,
         len(list_filter(regexp_extract_all(lower(text), '{oracles.TOKEN_PATTERN}'),
                         t -> list_contains({oracles.STOPLIST_SQL}, t)))::BIGINT AS stop_hits
  FROM documents
), feat AS (
  SELECT doc_id, n_chars, n_words,
         CASE WHEN n_words > 0 THEN n_chars::DOUBLE / n_words ELSE 0.0 END AS avg_word_len,
         CASE WHEN n_chars > 0 THEN punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN digits::DOUBLE / n_chars ELSE 0.0 END AS digit_ratio,
         CASE WHEN n_words > 0 THEN stop_hits::DOUBLE / n_words ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_words,
       round(avg_word_len, 6) AS avg_word_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(
         0.4 * (CASE WHEN n_words >= 10 THEN 1.0 ELSE n_words::DOUBLE / 10.0 END)
         + 0.2 * (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 12.0 THEN 1.0 ELSE 0.5 END)
         + 0.2 * (1.0 - least(punct_ratio * 4.0, 1.0))
         + 0.1 * (1.0 - least(digit_ratio * 4.0, 1.0))
         + 0.1 * least(stopword_ratio * 2.0, 1.0), 6) AS quality_score
FROM feat"""

_ORACLE_CALIBRATED = """
WITH qual AS ({q}),
src AS (SELECT doc_id, source FROM documents)
SELECT q.doc_id, s.source, q.quality_score,
       round(percent_rank() OVER (PARTITION BY s.source
                                  ORDER BY q.quality_score ASC, q.doc_id ASC),
             6) AS calibrated
FROM qual q JOIN src s USING (doc_id)"""

# composed curation verdict: quality oracle as a sub-CTE + the 2-gram
# repetition chain + first-failing-rule decision (thresholds mirror
# textanalysis.curation_decision defaults)
_ORACLE_CURATION = f"""
WITH qual AS ({{quality}}),
rtok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0) AS toks
  FROM documents
), rg AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
              ELSE []::VARCHAR[] END AS g2
  FROM rtok
), rep AS (
  SELECT doc_id,
         round(CASE WHEN len(g2) > 0
               THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac
  FROM rg
), j AS (
  SELECT q.doc_id, q.n_chars, q.quality_score, rep.dup_2gram_frac
  FROM qual q JOIN rep USING (doc_id)
), d AS (
  SELECT doc_id, n_chars, quality_score, dup_2gram_frac,
         CASE WHEN n_chars < 100 THEN 'too_short'
              WHEN n_chars > 10000 THEN 'too_long'
              WHEN quality_score < 0.5 THEN 'low_quality'
              WHEN dup_2gram_frac > 0.3 THEN 'repetitive'
              ELSE 'ok' END AS reason
  FROM j
)
SELECT doc_id, n_chars, quality_score, dup_2gram_frac, reason, reason = 'ok' AS keep
FROM d"""

# cluster-representative selection: MinHash clusters (same recursive
# transitive closure as q_dedup_clusters) + quality over the augmented
# corpus (a re-keyed dup copies its source doc's score — same text)
# → rank within cluster by (quality DESC, doc_id ASC)
_ORACLE_DEDUP_CANONICAL = f"""
WITH RECURSIVE {oracles._minhash_verified_ctes(16, 4, 3)},
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION
  SELECT doc_b AS a, doc_a AS b FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id FROM reach GROUP BY a
),
qbase AS (SELECT doc_id, quality_score FROM ({{q}})),
aq AS (
  SELECT d.doc_id, qb.quality_score
  FROM aug_docs d JOIN qbase qb
    ON qb.doc_id = CASE WHEN d.doc_id >= 10000 THEN d.doc_id - 10000 ELSE d.doc_id END
),
f AS (
  SELECT a.doc_id, coalesce(cc.cluster_id, a.doc_id) AS cluster_id, a.quality_score
  FROM aq a LEFT JOIN cc ON a.doc_id = cc.doc_id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
       quality_score,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality_score DESC, doc_id ASC) = 1 AS is_canonical
FROM f"""

# composed curation manifest: the dedup-canonical chain + per-source
# calibration + the Gopher battery, folded into one first-failing-gate
# verdict per document ({q} = quality oracle, {gopher} = gopher oracle
# against aug_docs)
_ORACLE_MANIFEST = f"""
WITH RECURSIVE {oracles._minhash_verified_ctes(16, 4, 3)},
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION
  SELECT doc_b AS a, doc_a AS b FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cc AS (
  SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id FROM reach GROUP BY a
),
qbase AS (SELECT doc_id, quality_score FROM ({{q}})),
aq AS (
  SELECT d.doc_id, qb.quality_score
  FROM aug_docs d JOIN qbase qb
    ON qb.doc_id = CASE WHEN d.doc_id >= 10000 THEN d.doc_id - 10000 ELSE d.doc_id END
),
f AS (
  SELECT a.doc_id, coalesce(cc.cluster_id, a.doc_id) AS cluster_id, a.quality_score
  FROM aq a LEFT JOIN cc ON a.doc_id = cc.doc_id
),
canl AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality_score DESC, doc_id ASC) = 1 AS is_canonical
  FROM f
),
asrc AS (
  SELECT d.doc_id, s.source
  FROM aug_docs d JOIN documents s
    ON s.doc_id = CASE WHEN d.doc_id >= 10000 THEN d.doc_id - 10000 ELSE d.doc_id END
),
calib AS (
  SELECT a.doc_id, s.source,
         round(percent_rank() OVER (PARTITION BY s.source
                                    ORDER BY a.quality_score ASC, a.doc_id ASC),
               6) AS calibrated
  FROM aq a JOIN asrc s USING (doc_id)
),
gop AS (
  SELECT doc_id, reason AS gopher_reason FROM ({{gopher}})
),
verdict AS (
  SELECT c.doc_id, c.source, c.calibrated, n.cluster_id, n.is_canonical,
         CASE WHEN g.gopher_reason <> 'ok' THEN 'gopher:' || g.gopher_reason
              WHEN c.calibrated < 0.1 THEN 'low_quality'
              WHEN NOT n.is_canonical THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM calib c
  JOIN canl n ON n.doc_id = c.doc_id
  JOIN gop g ON g.doc_id = c.doc_id
)
SELECT doc_id, source, calibrated, cluster_id, is_canonical, reason,
       reason = 'kept' AS keep
FROM verdict"""

# regex strings shared verbatim with operators/sniff.py (Java regex and
# RE2 agree on these constructs; no lookaround, no multiline flags)
_SNIFF_SHEBANG = r"^#!(/usr)?/bin/"
_SNIFF_CODE = (
    r"(^|\n)\s*(def |class |import |from \w+ import |function |const |var |let )"
    r"|(;\s*\n.*;\s*\n)|(\{\s*\n[^}]*\n\s*\})"
)

_ORACLE_SNIFF = f"""
WITH s AS (
  SELECT doc_id, text, trim(text) AS tt,
         string_split(text, chr(10)) AS all_lines
  FROM documents
), p AS (
  SELECT doc_id,
         (regexp_matches(text, '{_SNIFF_SHEBANG}')
          OR regexp_matches(text, '{_SNIFF_CODE}')) AS is_code,
         (regexp_matches(tt, '^[[{{]') AND regexp_matches(tt, '[\\]}}]$')
          AND json_valid(tt)) AS is_json,
         (regexp_matches(tt, '^<\\??[A-Za-z!]') AND regexp_matches(tt, '>$')) AS is_xml,
         len(list_filter(all_lines,
             ln -> regexp_matches(ln, '^\\s*([A-Za-z_][\\w\\-]*:\\s|- )')))::DOUBLE AS yamlish,
         len(list_filter(all_lines, ln -> length(trim(ln)) > 0))::DOUBLE AS nonempty,
         list_filter(all_lines, ln -> length(trim(ln)) > 0) AS lines
  FROM s
), p2 AS (
  SELECT doc_id, is_code, is_json, is_xml,
         (nonempty > 0 AND yamlish / nonempty >= 0.5 AND NOT is_json) AS is_yaml,
         (len(lines) >= 2
          AND list_min(list_transform(lines, ln -> len(string_split(ln, ',')) - 1)) >= 1
          AND list_min(list_transform(lines, ln -> len(string_split(ln, ',')) - 1))
            = list_max(list_transform(lines, ln -> len(string_split(ln, ',')) - 1))) AS is_csv
  FROM p
)
SELECT p2.doc_id, is_code, is_json, is_xml, is_yaml, is_csv,
       CASE WHEN is_json THEN 'json' WHEN is_xml THEN 'xml'
            WHEN is_csv THEN 'csv' WHEN is_yaml THEN 'yaml'
            WHEN is_code THEN 'code' ELSE 'text' END AS detected_format,
       -- scanned-PDF probe on the invertible construction in
       -- q_sniff_formats: every 4th doc has no text layer (0 chars);
       -- otherwise chars = length(text); pages = 1 + doc_id % 3
       (CASE WHEN d.doc_id % 4 = 0 THEN 0 ELSE length(d.text) END)::DOUBLE
         / (1 + d.doc_id % 3) < 50.0 AS is_scanned_pdf
FROM p2 JOIN documents d ON p2.doc_id = d.doc_id"""

from semantik_spark.operators.textanalysis import BPE_ISH_PATTERN  # noqa: E402

_ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0))::BIGINT AS ws_tokens,
       len(regexp_extract_all(lower(text), '{oracles.TOKEN_PATTERN}'))::BIGINT AS re_tokens,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN.replace(chr(39), chr(39) * 2)}'))::BIGINT AS bpe_tokens,
       ceil(length(text) / 4.0)::BIGINT AS est_tokens
FROM documents"""

_ORACLE_FINGERPRINT = f"""
WITH {oracles.shingle_ctes('documents', 4).lstrip()}
SELECT doc_id, min({oracles.hash60_expr('shingle')}) AS fingerprint
FROM sh GROUP BY doc_id"""

from semantik_spark.functions.vectors import mock_embedding_sql  # noqa: E402

_ORACLE_INGEST_INDEX = f"""
WITH {oracles.fixed_chunk_ctes().lstrip()},
emb AS (
  SELECT doc_id, chunk_id, chunk_index, content,
         {mock_embedding_sql('content')} AS e
  FROM fchunks
)
SELECT doc_id, chunk_id, chunk_index,
       sha256(content) AS chunk_hash,
       len(e)::INT AS dim,
       round(list_sum(e), 6) AS emb_checksum
FROM emb"""

# the mixed-format constructions in q_parse_routed are invertible, so
# the oracle predicts each parser family's text layer directly
_ORACLE_PARSE_ROUTED = """
WITH d AS (
  SELECT doc_id, text, doc_id % 9 AS m, 'Doc ' || doc_id AS title,
         CASE doc_id % 9 WHEN 0 THEN '.txt' WHEN 1 THEN '.json'
              WHEN 2 THEN '.html' WHEN 3 THEN '.eml' WHEN 4 THEN '.pdf'
              WHEN 5 THEN '.odt' WHEN 6 THEN '.epub'
              WHEN 7 THEN '.doc' ELSE '.ppt' END AS ext
  FROM documents
)
SELECT 'mixed/doc_' || doc_id || ext AS uri,
       ext AS extension,
       CASE m WHEN 0 THEN 'text' WHEN 1 THEN 'structured'
              WHEN 2 THEN 'html' WHEN 3 THEN 'email' WHEN 4 THEN 'pdf'
              WHEN 5 THEN 'office' WHEN 6 THEN 'office'
              ELSE 'ole' END AS parser,
       CASE m WHEN 0 THEN 'parsed' WHEN 3 THEN 'parsed'
              WHEN 1 THEN 'ok' WHEN 2 THEN 'ok' WHEN 4 THEN 'ok'
              ELSE CASE WHEN length(text) > 0 THEN 'ok' ELSE 'empty' END
              END AS parse_status,
       CASE m
         WHEN 0 THEN text
         WHEN 1 THEN 'title: ' || title || chr(10) || 'body: ' || text
         WHEN 2 THEN array_to_string(
                list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                            s -> length(s) > 0), chr(10))
         ELSE text END AS text
FROM d"""

_ORACLE_BENCHMARK_MAPPING = """
WITH cat AS (
  SELECT doc_id, source || '/' || doc_id AS uri, sha256(text) AS content_hash,
         'f' || (doc_id % 300) AS file_name
  FROM documents
),
by_hash AS (SELECT content_hash, count(*) AS hc, min(doc_id) AS hd FROM cat GROUP BY content_hash),
by_name AS (SELECT file_name, count(*) AS nc, min(doc_id) AS nd FROM cat GROUP BY file_name),
refs AS (
  SELECT doc_id AS ref_id, 'ds1' AS dataset_id, 'c' || (doc_id % 3) AS collection_id,
         CASE WHEN (doc_id // 3) % 6 = 0 THEN doc_id
              WHEN (doc_id // 3) % 6 = 1 THEN doc_id + 500000 END AS document_id,
         CASE WHEN (doc_id // 3) % 6 = 2 THEN source || '/' || doc_id END AS uri,
         CASE WHEN (doc_id // 3) % 6 = 3 THEN sha256(text) END AS content_hash,
         CASE WHEN (doc_id // 3) % 6 = 4 THEN source || '/' || doc_id END AS path,
         CASE WHEN (doc_id // 3) % 6 = 5 THEN 'f' || (doc_id % 300) END AS file_name
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'ds1', 'c3', doc_id + 900000, NULL, NULL, NULL, NULL
  FROM documents WHERE doc_id % 50 = 0
  UNION ALL
  SELECT doc_id + 2000000, 'ds1', 'c4', doc_id, NULL, NULL, NULL, NULL
  FROM documents WHERE doc_id % 50 = 1
),
j AS (
  SELECT refs.*, cid.doc_id AS id_hit, cu.doc_id AS uri_hit, bh.hc, bh.hd,
         cp.doc_id AS path_hit, bn.nc, bn.nd
  FROM refs
  LEFT JOIN cat cid ON refs.document_id = cid.doc_id
  LEFT JOIN cat cu ON refs.uri = cu.uri
  LEFT JOIN by_hash bh ON refs.content_hash = bh.content_hash
  LEFT JOIN cat cp ON refs.path = cp.uri
  LEFT JOIN by_name bn ON refs.file_name = bn.file_name
),
res AS (
  SELECT *,
    CASE WHEN document_id IS NOT NULL THEN id_hit
         WHEN uri IS NOT NULL THEN uri_hit
         WHEN content_hash IS NOT NULL THEN CASE WHEN hc = 1 THEN hd END
         WHEN path IS NOT NULL THEN path_hit
         WHEN file_name IS NOT NULL THEN CASE WHEN nc = 1 THEN nd END
    END AS resolved_doc_id
  FROM j
),
res2 AS (
  SELECT *,
    CASE WHEN resolved_doc_id IS NOT NULL THEN NULL
         -- ambiguous only when the hash IS the priority field used
         -- (no fall-through — mirrors benchmark.resolve_doc_refs)
         WHEN content_hash IS NOT NULL AND document_id IS NULL
              AND uri IS NULL AND hc > 1 THEN 'ambiguous'
         WHEN file_name IS NOT NULL AND document_id IS NULL AND uri IS NULL
              AND content_hash IS NULL AND path IS NULL AND nc > 1 THEN 'ambiguous'
         WHEN document_id IS NOT NULL OR uri IS NOT NULL OR content_hash IS NOT NULL
              OR path IS NOT NULL OR file_name IS NOT NULL THEN 'not_found'
         ELSE 'no_identifiers' END AS failure_reason
  FROM res
)
SELECT dataset_id, collection_id,
       count(*)::BIGINT AS total_count,
       sum(CASE WHEN resolved_doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS mapped_count,
       sum(CASE WHEN failure_reason = 'ambiguous' THEN 1 ELSE 0 END)::BIGINT AS n_ambiguous,
       sum(CASE WHEN failure_reason = 'not_found' THEN 1 ELSE 0 END)::BIGINT AS n_not_found,
       CASE WHEN sum(CASE WHEN resolved_doc_id IS NOT NULL THEN 1 ELSE 0 END) = count(*)
                 THEN 'resolved'
            WHEN sum(CASE WHEN resolved_doc_id IS NOT NULL THEN 1 ELSE 0 END) > 0
                 THEN 'partial'
            ELSE 'pending' END AS mapping_status
FROM res2
GROUP BY dataset_id, collection_id"""

from semantik_spark.functions.vectors import float16_sql  # noqa: E402

_ORACLE_EMBEDDING_QUANTIZE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
              ELSE 1.0 END AS scale
  FROM e
),
c AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> floor(x * scale + 0.5)::INT) AS codes,
         {float16_sql('v')} AS f16,
         list_transform(v, x -> x::REAL::DOUBLE) AS f32
  FROM s
)
SELECT vec_id, len(v)::INT AS dim, round(scale, 6) AS scale,
       list_sum(codes)::BIGINT AS code_sum,
       round(list_max(list_transform(range(len(v)),
             i -> abs(codes[i + 1] / scale - v[i + 1]))), 6) AS max_err,
       round(list_sum(f16), 6) AS f16_checksum,
       round(list_max(list_transform(range(len(v)),
             i -> abs(f16[i + 1] - v[i + 1]))), 8) AS f16_max_err,
       round(list_max(list_transform(range(len(v)),
             i -> abs(f32[i + 1] - v[i + 1]))), 10) AS f32_max_err
FROM c"""

_ORACLE_SPARSE_VECTORS = f"""
WITH {oracles.bm25_ctes().lstrip()}
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY term_id) - 1)::INT AS pos,
       term_id, round(weight, 6) AS weight
FROM post"""

_ORACLE_CHUNK_FIXED = """
WITH starts AS (
  SELECT doc_id::VARCHAR AS doc_id, length(text)::INT AS doc_len, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), 150)) AS start_offset
  FROM documents WHERE length(text) > 0
), c AS (
  SELECT doc_id,
         (start_offset // 150)::INT AS chunk_index,
         substr(text, start_offset + 1, 200) AS content,
         start_offset::INT AS start_offset,
         least(start_offset + 200, doc_len)::INT AS end_offset
  FROM starts
  -- drop_contained_tail (default since r11): suppress the zero-new-
  -- content tail chunk (doc tail past the last stride <= overlap)
  WHERE start_offset = 0 OR start_offset + 50 < least(start_offset + 200, doc_len)
)
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index, content,
       start_offset, end_offset,
       ceil((end_offset - start_offset) / 4.0)::INT AS token_count,
       (count(*) OVER (PARTITION BY doc_id))::INT AS total_chunks
FROM c"""


# Twin of q_url_domain_stats: the same messy-URL construction from
# doc_ids, then the operators/urls.py canonicalization chain replayed
# step-for-step in RE2/DuckDB (regexp_replace needs the explicit 'g'
# flag where Spark's replaces all matches by default).
_ORACLE_URL_DOMAIN_STATS = r"""
WITH raw AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'HTTPS' END)
    || '://'
    || (CASE WHEN doc_id % 11 = 0 THEN 'crawler:pw@' ELSE '' END)
    || (CASE doc_id % 6
        WHEN 0 THEN 'WWW.Site.Example' || (doc_id % 7)::VARCHAR || '.CO.UK'
        WHEN 1 THEN 'Media.Example' || (doc_id % 7)::VARCHAR || '.COM.AU'
        WHEN 2 THEN 'Edu.School' || (doc_id % 7)::VARCHAR || '.K12.CA.US'
        WHEN 3 THEN 'News.Feed' || (doc_id % 7)::VARCHAR || '.CK'
        WHEN 4 THEN 'Deep.WWW.CK'
        ELSE 'WWW.Site.Example' || (doc_id % 7)::VARCHAR || '.COM' END)
    || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END)
    || '/Docs//' || (doc_id % 13)::VARCHAR
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || (CASE doc_id % 5 WHEN 0 THEN '?utm_source=mail&b=2&a=1' WHEN 1 THEN '?b=2&a=1'
             WHEN 2 THEN '?a=1&b=2&gclid=xyz' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 1 THEN '#sec' || (doc_id % 3)::VARCHAR ELSE '' END) AS url
  FROM documents
), s1 AS (
  SELECT lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM raw
), s2 AS (
  SELECT scheme, rest, regexp_extract(rest, '^([^/?#]*)', 1) AS authority FROM s1
), s3 AS (
  SELECT scheme,
         substr(rest, length(authority) + 1) AS tail,
         regexp_replace(authority, '^[^@]*@', '') AS hp
  FROM s2
), s4 AS (
  SELECT scheme,
         regexp_replace(tail, '#.*$', '') AS nof,
         regexp_replace(regexp_replace(lower(regexp_extract(hp, '^([^:]*)', 1)),
                                       '\.$', ''), '^www\.', '') AS host,
         regexp_extract(hp, ':([0-9]+)$', 1) AS port
  FROM s3
), s5 AS (
  SELECT scheme, host, port,
         regexp_extract(nof, '^([^?]*)', 1) AS raw_path,
         regexp_extract(nof, '\?(.*)$', 1) AS raw_query
  FROM s4
), s6 AS (
  SELECT scheme, host, port, raw_query,
         regexp_replace(raw_path, '//+', '/', 'g') AS p1
  FROM s5
), s7 AS (
  SELECT scheme, host, port, raw_query,
         CASE WHEN p2 = '' THEN '/' ELSE p2 END AS path
  FROM (SELECT scheme, host, port, raw_query,
               CASE WHEN length(p1) > 1 THEN regexp_replace(p1, '/$', '') ELSE p1 END AS p2
        FROM s6) t
), s8 AS (
  SELECT scheme, host, port, path,
         array_to_string(list_sort(list_filter(string_split(raw_query, '&'),
             p -> p <> '' AND NOT starts_with(p, 'utm_')
                  AND NOT starts_with(p, 'fbclid')
                  AND NOT starts_with(p, 'gclid'))), '&') AS params
  FROM s7
), s9 AS (
  SELECT scheme, host,
         scheme || '://' || host
         || (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                       AND NOT (scheme = 'https' AND port = '443')
                  THEN ':' || port ELSE '' END)
         || path
         || (CASE WHEN params <> '' THEN '?' || params ELSE '' END) AS canonical_url,
         __PSL_DOMAIN__ AS domain
  FROM s8
)
SELECT domain, count(*)::BIGINT AS n_urls,
       count(DISTINCT canonical_url)::BIGINT AS n_canonical,
       count(DISTINCT host)::BIGINT AS n_hosts,
       round(sum(CASE WHEN scheme = 'https' THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS https_frac
FROM s9 GROUP BY domain"""

# inject the PSL registrable-domain CASE generated from the SAME rule
# tuples the Spark expression compiles from (functions/psl.py), so the
# oracle replays the public-suffix algorithm rule-for-rule
from semantik_spark.functions.psl import psl_domain_sql  # noqa: E402

_ORACLE_URL_DOMAIN_STATS = _ORACLE_URL_DOMAIN_STATS.replace(
    "__PSL_DOMAIN__", psl_domain_sql("host")
)


# the oracle joins on the RAW range predicate — a hash match
# proves the bucket-blocked equi-join loses no pair
_ORACLE_INTERVAL_OVERLAP = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us, ts FROM events
), flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM flagged
), si AS (
  SELECT user_id, session_id, min(us) AS s0, max(us) AS s1
  FROM sess GROUP BY user_id, session_id
), busy AS (
  SELECT date_trunc('day', ts) AS day, count(*) AS n FROM e
  GROUP BY 1 ORDER BY n DESC, day ASC LIMIT 5
), win AS (
  SELECT strftime(day, '%Y-%m-%d') AS day,
         epoch_us(day::TIMESTAMP)::BIGINT AS r0,
         epoch_us(day::TIMESTAMP)::BIGINT + 86399999999 AS r1
  FROM busy
)
SELECT user_id, session_id, day,
       (least(s1, r1) - greatest(s0, r0))::BIGINT AS overlap_us
FROM si JOIN win ON s0 <= r1 AND r0 <= s1"""

_ORACLE_EVENTS_ACF = """
WITH span AS (
  SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1 FROM events
), cal AS (
  SELECT g, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span CROSS JOIN (SELECT DISTINCT event_type AS g FROM events)
), counts AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day, count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT cal.g, cal.day, coalesce(x, 0)::DECIMAL(18,0) AS x
  FROM cal LEFT JOIN counts ON cal.g = counts.g AND cal.day = counts.day
), stats AS (
  SELECT g, sum(x)::DECIMAL(18,0) AS s, count(*)::DECIMAL(18,0) AS n FROM dense GROUP BY 1
), wid AS (
  SELECT dense.g, n,
         (x * n - s)::DECIMAL(18,0) AS c0,
         (lead(x, 1) OVER w * n - s)::DECIMAL(18,0) AS c1,
         (lead(x, 2) OVER w * n - s)::DECIMAL(18,0) AS c2,
         (lead(x, 7) OVER w * n - s)::DECIMAL(18,0) AS c7
  FROM dense JOIN stats ON dense.g = stats.g
  WINDOW w AS (PARTITION BY dense.g ORDER BY day)
), agg AS (
  SELECT g, max(n)::BIGINT AS n_days, sum(c0 * c0) AS den,
         sum(c0 * c1) AS n1, sum(c0 * c2) AS n2, sum(c0 * c7) AS n7
  FROM wid GROUP BY 1
)
SELECT g AS event_type, n_days, l.lag,
       round((CASE l.lag WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n7 END)::DOUBLE
             / den::DOUBLE, 6) AS acf
FROM agg CROSS JOIN (VALUES (1), (2), (7)) AS l(lag)"""


class QueryRow(NamedTuple):
    """One registered query. queries(), oracle_sql(), DRIVER_WINDOW,
    tools/check_oracle.py and bench.py's series all read these rows."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # bench.py series: None = not benched; "count" = the timed .count()
    # series; "one_rep" = the count series at one rep, left out of the
    # suite total (fixed-overhead streaming and sync-loop replays and
    # in-query index rebuilds, whose wall is scheduler constants rather
    # than plan health); "noop" = the count series plus one noop-sink
    # run that computes every column (.count() lets the optimizer prune
    # whole expression subtrees)
    bench: str | None
    sql: str  # the DuckDB oracle twin, the same rows at any SF


# The registry, one row per query, in driver order. The correctness
# driver hash-checks the first 50 rows (DRIVER_WINDOW), so their order
# is a staleness rotation: first-ever driver rows for queries added
# since the last rotation, then behavior-changed entries, then the
# longest-unrefreshed anchors. A rotation moves rows and re-pins the
# order hash in tests/test_entry_contract.py; a new query is one row.
# Rows past the window are behavior-anchored by their last driver-green
# round: whenever a module behind one is touched, tools/check_oracle.py
# re-runs every affected query and logs the run to ORACLE_CHECKS.jsonl
# (README "Correctness window rotation").
QUERY_TABLE: tuple[QueryRow, ...] = tuple(map(QueryRow._make, (
    ("doc_clusters", q_doc_clusters, "count", oracles.q_doc_clusters(16, 1)),
    ("knn_ivf_sample_sweep", q_knn_ivf_sample_sweep, "count", oracles.q_knn_ivf_sample_sweep(
        5, 16, 4, (1, 3, 10))),
    ("search_snippets", q_search_snippets, "count", oracles.q_search_snippets(5, 12)),
    ("rerank_search", q_rerank_search, "count", oracles.q_rerank_search(10)),
    ("theil_sen_trend", q_theil_sen_trend, "count", oracles.q_theil_sen_trend()),
    ("bm25_append_delete_replay", q_bm25_append_delete_replay, "one_rep",
     oracles.q_bm25_append_delete_replay()),
    ("bm25_pruned_search", q_bm25_pruned_search, "count", oracles.q_bm25_pruned_search(10, 32)),
    ("bpe_fertility", q_bpe_fertility, "count", oracles.q_bpe_fertility(8)),
    ("curated_manifest", q_curated_manifest, "count", _ORACLE_MANIFEST.format(
        q=_ORACLE_QUALITY,
        gopher=oracles.q_gopher_rules(50, 100000, "aug_docs"),
    )),
    ("customer_rfm", q_customer_rfm, "count", """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))::INT AS recency_days,
         count(*)::BIGINT AS frequency,
         sum(o_totalprice::DECIMAL(18,2)) AS money
  FROM orders GROUP BY o_custkey
)
SELECT custkey, recency_days, frequency,
       round(money::DOUBLE, 2) AS monetary,
       ntile(5) OVER (ORDER BY recency_days ASC, custkey ASC)::INT AS r_score,
       ntile(5) OVER (ORDER BY frequency DESC, custkey ASC)::INT AS f_score,
       ntile(5) OVER (ORDER BY money::DOUBLE DESC, custkey ASC)::INT AS m_score
FROM base"""),
    ("dedup_canonical", q_dedup_canonical, "count",
     _ORACLE_DEDUP_CANONICAL.format(q=_ORACLE_QUALITY)),
    ("dedup_containment", q_dedup_containment, "count", oracles.q_ngram_containment(3, 0.8)),
    ("dedup_cut", q_dedup_cut, "count", oracles.q_cut_spans(10, 2)),
    ("dedup_embedding", q_dedup_embedding, None, oracles.q_embedding_dups(0.99)),
    ("dedup_passages", q_dedup_passages, "count", oracles.q_repeated_passages(k=10, min_docs=2)),
    ("dedup_spans", q_dedup_spans, "count", oracles.q_duplicate_spans(10, 2)),
    ("events_acf", q_events_acf, "count", _ORACLE_EVENTS_ACF),
    ("events_concurrency", q_events_concurrency, "count", """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000 OR
                   lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
islands AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sessions AS (
  SELECT user_id, sid, min(us) AS s, max(us) + 1800000000 AS e
  FROM islands GROUP BY user_id, sid
),
deltas AS (
  SELECT us, sum(delta)::BIGINT AS net FROM (
    SELECT s AS us, 1 AS delta FROM sessions
    UNION ALL
    SELECT e AS us, -1 AS delta FROM sessions
  ) GROUP BY us
)
SELECT us, net,
       sum(net) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING)::BIGINT AS concurrent
FROM deltas"""),
    ("events_mad_outliers", q_events_mad_outliers, "count", """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, max(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad,
         count(*)::BIGINT AS n
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       round(e.value, 6) AS value,
       round(s.med, 6) AS med,
       round(s.mad, 6) AS mad,
       round((e.value - s.med) / (1.4826 * s.mad), 6) AS robust_z
FROM events e JOIN mad s USING (event_type)
WHERE s.mad > 0 AND abs((e.value - s.med) / (1.4826 * s.mad)) > 3.5"""),
    ("events_seasonal", q_events_seasonal, "count", """
WITH daily AS (
  SELECT event_type, (ts::TIMESTAMP)::DATE AS day, count(*)::BIGINT AS n
  FROM events GROUP BY event_type, (ts::TIMESTAMP)::DATE
),
base AS (
  SELECT a.event_type, a.day, a.n, b.n AS forecast,
         (a.n - b.n)::BIGINT AS residual
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day = a.day - 7
),
stats AS (
  SELECT event_type, count(*)::BIGINT AS nn,
         sum(residual::DECIMAL(28,8)) AS s1,
         sum((residual::DECIMAL(28,8) * residual::DECIMAL(28,8))::DECIMAL(38,10)) AS s2
  FROM base GROUP BY event_type
),
st AS (
  SELECT event_type, nn,
         s1::DOUBLE / nn AS rmean,
         sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / nn) / (nn - 1)) AS rsd
  FROM stats
)
SELECT b.event_type, strftime(b.day, '%Y-%m-%d') AS day, b.n, b.forecast,
       b.residual,
       round((b.residual - st.rmean) / st.rsd, 6) AS z,
       abs((b.residual - st.rmean) / st.rsd) > 2.0 AS is_anomaly
FROM base b JOIN st USING (event_type)
WHERE st.nn >= 2 AND st.rsd > 0"""),
    ("forecast_revenue", q_forecast_revenue, "count", """
SELECT sum((l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(8,2))::DECIMAL(30,4))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
    ("gdpr_delete_cascade", q_gdpr_delete_cascade, "count", oracles.q_gdpr_delete_cascade()),
    # incremental == batch by construction: the oracle is the batch
    # transitive closure, unchanged
    ("incremental_clusters", q_incremental_clusters, "count",
     oracles.q_dedup_clusters(16, 4, 3, 0.5)),
    ("interval_overlap", q_interval_overlap, "count", _ORACLE_INTERVAL_OVERLAP),
    ("k_anonymity", q_k_anonymity, "count", """
WITH span AS (
  SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer
), d AS (
  SELECT c_nationkey, c_mktsegment,
         (CASE WHEN hi = lo THEN 0
               ELSE least(9, floor((c_acctbal - lo) * 10.0 / (hi - lo)))
          END)::INT AS bal_band
  FROM customer CROSS JOIN span
), classes AS (
  SELECT c_nationkey, c_mktsegment, bal_band, count(*)::BIGINT AS class_size
  FROM d GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, bal_band, class_size,
       (SELECT min(class_size) FROM classes)::BIGINT AS k_anonymity,
       class_size < 5 AS at_risk
FROM classes"""),
    ("knn_assortativity", q_knn_assortativity, "count", oracles.q_knn_assortativity(k=5)),
    ("knn_binary", q_knn_binary, "noop", oracles.q_knn_binary(5, 20, 64)),
    ("knn_ivf_append", q_knn_ivf_append, "count", oracles.q_knn_ivf(5, 16, 4, 1, "base")),
    ("knn_kcore", q_knn_kcore, "count", oracles.q_knn_kcore(5, 8)),
    ("knn_link_prediction", q_knn_link_prediction, "count",
     oracles.q_knn_link_prediction(k=5, top_k=20)),
    ("knn_ppr", q_knn_ppr, "count", oracles.q_knn_ppr(5, 0.85, 5, 50, 10)),
    ("matryoshka_recall", q_matryoshka_recall, "noop",
     oracles.q_matryoshka_recall(10, (8, 16, 32, 64))),
    ("maxsim_rerank", q_maxsim_rerank, "count", oracles.q_maxsim_rerank(5, 20, 32, 8)),
    ("quality_calibrated", q_quality_calibrated, "count",
     _ORACLE_CALIBRATED.format(q=_ORACLE_QUALITY)),
    ("record_linkage", q_record_linkage, "count", """
WITH clean AS (
  SELECT c_nationkey, c_custkey AS id, c_name AS name,
         c_acctbal::DOUBLE AS val,
         list_aggregate(list_transform(regexp_extract_all(c_name, '[0-9]'),
                        x -> x::BIGINT), 'sum') AS dsum
  FROM customer
), dirty AS (
  SELECT c_nationkey, c_custkey + 1000000 AS id,
         substr(c_name, 1, length(c_name) - 2)
           || substr(c_name, length(c_name), 1)
           || substr(c_name, length(c_name) - 1, 1) AS name,
         floor(c_acctbal)::DOUBLE AS val
  FROM customer WHERE c_custkey % 7 = 0
), dirtyb AS (
  SELECT *, list_aggregate(list_transform(regexp_extract_all(name, '[0-9]'),
                           x -> x::BIGINT), 'sum') AS dsum
  FROM dirty
), cand AS (
  SELECT l.id AS id_left, r.id AS id_right,
         levenshtein(l.name, r.name) AS dist,
         CASE WHEN levenshtein(l.name, r.name) = 0 THEN 4000
              WHEN levenshtein(l.name, r.name) <= 2 THEN 2500
              ELSE -3000 END
         + CASE WHEN abs(l.val - r.val) < 1.0 THEN 1500 ELSE -1000 END AS score
  FROM clean l JOIN dirtyb r
    ON l.c_nationkey = r.c_nationkey AND l.dsum = r.dsum
)
SELECT id_left, id_right, dist::INT AS name_dist, score::BIGINT AS score_milli
FROM cand WHERE score >= 3000"""),
    ("spell_suggestions", q_spell_suggestions, "count", oracles.q_spell_suggestions(20, 5, 1)),
    ("stratified_sample", q_stratified_sample, "count", """
WITH d AS (SELECT doc_id, coalesce(source, '__null__') AS stratum FROM documents),
c AS (SELECT stratum, count(*)::BIGINT AS stratum_size FROM d GROUP BY stratum)
SELECT doc_id, stratum, stratum_size,
       round(least(1.0, 50.0 / stratum_size), 6) AS sample_rate,
       ({h} % 1000000)
         < floor(round(least(1.0, 50.0 / stratum_size), 6) * 1e6)::BIGINT AS kept
FROM d JOIN c USING (stratum)""".format(
        h=oracles.hash60_expr("doc_id::VARCHAR || '#strat'"))),
    ("stream_interval_join_outer", q_stream_interval_join_outer, "one_rep", """
WITH c AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       (p.us - c.us)::BIGINT AS lag_us
FROM c LEFT JOIN p ON c.user_id = p.user_id
 AND c.us BETWEEN p.us - 86400000000 AND p.us"""),
    # batch-register replay: a hash match IS the stream==batch proof
    ("streaming_hll", q_streaming_hll, "count",
     oracles.q_approx_distinct_hll(p=8, with_exact=False)),
    # the streaming SCD2 state must equal the one-pass full-log rebuild
    # (merge == rebuild per trigger; scd2_merge fold ≡ batch scd2_history)
    ("streaming_scd2", q_streaming_scd2, "one_rep", """
WITH upd AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS ts, o_orderkey AS seq
  FROM orders
), flagged AS (
  SELECT custkey, priority, ts, seq,
         lag(priority) OVER (PARTITION BY custkey ORDER BY ts, seq) AS prev_priority,
         row_number() OVER (PARTITION BY custkey ORDER BY ts, seq) AS rn
  FROM upd
), changes AS (
  SELECT custkey, priority, ts AS valid_from, seq
  FROM flagged WHERE rn = 1 OR prev_priority IS DISTINCT FROM priority
)
SELECT custkey, priority, valid_from,
       lead(valid_from) OVER w AS valid_to,
       (row_number() OVER w)::INT AS version,
       (lead(valid_from) OVER w IS NULL) AS is_current
FROM changes WINDOW w AS (PARTITION BY custkey ORDER BY valid_from, seq)"""),
    ("streaming_sessions", q_streaming_sessions, "one_rep", """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
),
flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000 OR
                   lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e
),
islands AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       make_timestamp(min(us)) AS session_start,
       make_timestamp(max(us) + 1800000000) AS session_end,
       count(*)::BIGINT AS n_events
FROM islands GROUP BY user_id, sid"""),
    ("temporal_split", q_temporal_split, "count", """
WITH span AS (
  SELECT min(epoch_us(ts::TIMESTAMP)) AS t0, max(epoch_us(ts::TIMESTAMP)) AS t1
  FROM events
), tagged AS (
  SELECT event_type, user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us,
         CASE WHEN ts IS NULL THEN 'unknown'
              WHEN epoch_us(ts::TIMESTAMP) < t0 + ((t1 - t0) * 8) // 10
              THEN 'train'
              WHEN epoch_us(ts::TIMESTAMP) < t0 + ((t1 - t0) * 8) // 10
                                                + 2 * 86400000000
              THEN 'embargo'
              ELSE 'test' END AS split
  FROM events CROSS JOIN span
)
SELECT split, event_type, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       min(us) AS min_us, max(us) AS max_us
FROM tagged GROUP BY 1, 2"""),
    ("text_entropy", q_text_entropy, "count", """
WITH chars AS (
  SELECT doc_id, unnest(list_transform(range(1, length(lower(text)) + 1),
                                       i -> substr(lower(text), i, 1))) AS ch
  FROM documents
),
counts AS (
  SELECT doc_id, ch, count(*)::BIGINT AS c FROM chars
  WHERE ch <> '' GROUP BY doc_id, ch
),
per AS (
  SELECT doc_id, ch, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
)
SELECT doc_id,
       max(n)::BIGINT AS n_chars,
       count(*)::BIGINT AS n_distinct_chars,
       sum(CAST(floor(-(c::DOUBLE / n) * ln(c::DOUBLE / n)
                      / 0.6931471805599453 * 100000000 + 0.5)
                AS BIGINT))::BIGINT AS entropy_microbits,
       round(max(c)::DOUBLE / max(n), 6) AS top_char_frac
FROM per GROUP BY doc_id"""),
    ("text_vocab", q_text_vocab, None, """
WITH tk AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '\\s+'), x -> length(x) > 0)) AS term
  FROM documents
),
fr AS (
  SELECT term, count(*)::BIGINT AS freq, count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM tk GROUP BY term
  ORDER BY freq DESC, term ASC LIMIT 200
)
SELECT term, freq, doc_freq,
       (row_number() OVER (ORDER BY freq DESC, term ASC) - 1)::BIGINT AS vocab_id
FROM fr"""),
    ("textrank_keywords", q_textrank_keywords, "count", oracles.q_textrank_keywords(20, 0.85, 5)),
    ("unigram_em_encode", q_unigram_em_encode, "count",
     oracles.q_unigram_em_encode(120, 5, 1000, 30, 20)),
    ("unigram_encode", q_unigram_encode, "count", oracles.q_unigram_encode(120, 5, 1000, 30, 20)),
    ("unigram_pieces", q_unigram_pieces, "count", oracles.q_unigram_pieces(120, 5, 1000)),
    ("value_band_pairs", q_value_band_pairs, "count", """
WITH p AS (SELECT event_id, value FROM events WHERE event_type = 'purchase')
SELECT a.event_id AS id_a, b.event_id AS id_b,
       round(a.value, 6) AS value_a, round(b.value, 6) AS value_b,
       round(abs(a.value - b.value), 6) AS diff
FROM p a JOIN p b
  ON a.event_id < b.event_id AND abs(a.value - b.value) <= 0.1"""),
    ("wordpiece_encode", q_wordpiece_encode, "count", oracles.q_wordpiece_encode(8, 30)),
    ("heaps_law", q_heaps_law, "count", oracles.q_heaps_law(32, n=3)),
    ("corpus_drift_jsd", q_corpus_drift_jsd, "count", oracles.q_corpus_drift_jsd(20)),
    ("item_item_cf", q_item_item_cf, "count", oracles.q_item_item_cf(50, 50)),
    ("burrows_delta", q_burrows_delta, "count", oracles.q_burrows_delta(30, 4, 5, 125)),
    ("hill_tail", q_hill_tail, "count", oracles.q_hill_tail((50, 100, 200, 500))),
    ("ltr_features", q_ltr_features, "count", oracles.q_ltr_features(20)),
    ("market_hhi", q_market_hhi, "count", oracles.q_market_hhi()),
    ("cuped_ab", q_cuped_ab, "count", oracles.q_cuped("2024-01-16 00:00:00", 2)),
    ("logrank_test", q_logrank_test, "count", oracles.q_logrank(36, "purchase", 2)),
    ("knn_clustering", q_knn_clustering, "count", oracles.q_knn_clustering(5, 10)),
    ("price_elasticity", q_price_elasticity, "count", oracles.q_price_elasticity(50)),
    ("forecast_backtest", q_forecast_backtest, "count", oracles.q_forecast_backtest(7, 28)),
    ("streaming_chi_square", q_streaming_chi_square, "one_rep", oracles.q_stat_chi_square(5)),
    ("markov_stationary", q_markov_stationary, "count", oracles.q_markov_stationary(30)),
    ("textrank_sentences", q_textrank_sentences, "count",
     oracles.q_textrank_sentences(3, 0.85, 8)),
    ("referential_integrity", q_referential_integrity, "count", oracles.q_referential_integrity()),
    ("markov_attribution", q_markov_attribution, "count",
     oracles.q_markov_attribution(("click", "error", "signup", "view"), "purchase", 50)),
    ("sequential_patterns", q_sequential_patterns, "count",
     oracles.q_sequential_patterns(30, 3, 20)),
    ("poisson_bootstrap", q_poisson_bootstrap, "noop", oracles.q_poisson_bootstrap(200, 5)),
    ("funnel_wilson", q_funnel_wilson, "count", oracles.q_funnel_wilson(1960)),
    ("eb_item_rates", q_eb_item_rates, "count", oracles.q_eb_rates()),
    ("ks_family_bh", q_ks_family_bh, "count", oracles.q_ks_family_bh(50)),
    ("rank_tau", q_rank_tau, "count", oracles.q_rank_tau(20)),
    ("collocations_llr", q_collocations_llr, "count", oracles.q_collocations_llr(5, 50)),
    ("knn_harmonic", q_knn_harmonic, "count", oracles.q_knn_harmonic(5, 3, 20)),
    ("label_centroids", q_label_centroids, "count", oracles.q_label_centroids()),
    ("simpson_audit", q_simpson_audit, "count", oracles.q_simpson_audit()),
    ("mutual_information", q_mutual_information, "count", oracles.q_mutual_information()),
    ("cohens_kappa", q_cohens_kappa, "count", oracles.q_cohens_kappa()),
    # Ljung-Box composes the events_acf twin (Q-fold over its rows)
    ("ljung_box", q_ljung_box, "count", oracles.q_ljung_box(_ORACLE_EVENTS_ACF, 3)),
    # ROC AUC composes the text_quality twin (stopword_ratio score)
    ("roc_auc", q_roc_auc, "count", oracles.q_roc_auc(_ORACLE_QUALITY)),
    ("pacf_daily", q_pacf_daily, "count", oracles.q_pacf_daily(7)),
    ("brown_forsythe", q_brown_forsythe, "count", oracles.q_brown_forsythe()),
    ("rollup_agg", q_rollup_agg, None, """
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n, sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),
    ("sniff_formats", q_sniff_formats, "count", _ORACLE_SNIFF),
    ("text_collocations", q_text_collocations, None, """
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents
),
uni AS (
  SELECT w, count(*)::BIGINT AS n_w
  FROM (SELECT unnest(toks) AS w FROM tk) s GROUP BY w
),
bg_all AS (
  SELECT word_a, word_b, count(*)::BIGINT AS n_pair FROM (
    SELECT toks[r.i] AS word_a, toks[r.i + 1] AS word_b
    FROM tk, LATERAL unnest(range(1, len(toks))) AS r(i)
    WHERE len(toks) >= 2
  ) s GROUP BY word_a, word_b
),
bg AS (SELECT * FROM bg_all WHERE n_pair >= 5),
tot AS (
  -- P(ab) normalizes by the PRE-filter bigram total (Church & Hanks)
  SELECT (SELECT sum(n_w)::DOUBLE FROM uni) AS t_uni,
         (SELECT sum(n_pair)::DOUBLE FROM bg_all) AS t_big
),
sc AS (
  SELECT word_a, word_b, n_pair, a.n_w AS n_a, b.n_w AS n_b,
         log2((n_pair / t_big) / ((a.n_w / t_uni) * (b.n_w / t_uni))) AS pmi_raw
  FROM bg JOIN uni a ON bg.word_a = a.w JOIN uni b ON bg.word_b = b.w, tot
)
SELECT word_a, word_b, n_pair, n_a, n_b, round(pmi_raw, 6) AS pmi
FROM sc
ORDER BY round(pmi_raw, 6) DESC, word_a ASC, word_b ASC
LIMIT 50"""),
    ("text_curation", q_text_curation, None, _ORACLE_CURATION.format(quality=_ORACLE_QUALITY)),
    ("text_fingerprint", q_text_fingerprint, None, _ORACLE_FINGERPRINT),
    ("text_lang_id", q_text_lang_id, None, _ORACLE_LANG_ID),
    ("text_quality", q_text_quality, "count", _ORACLE_QUALITY),
    ("text_repetition", q_text_repetition, None, """
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '\\n'), x -> trim(x)),
                     x -> length(x) > 0) AS lines,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0) AS toks
  FROM documents
), g AS (
  SELECT doc_id, lines,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
              ELSE []::VARCHAR[] END AS g2,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
              ELSE []::VARCHAR[] END AS g3
  FROM base
)
SELECT doc_id, len(lines)::BIGINT AS n_lines,
       round(CASE WHEN len(lines) > 0
             THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines) ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN len(g2) > 0
             THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
       round(CASE WHEN len(g3) > 0
             THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0.0 END, 6) AS dup_3gram_frac
FROM g"""),
    ("text_token_counts", q_text_token_counts, None, _ORACLE_TOKEN_COUNTS),
    ("topk_per_group", q_topk_per_group, None, """
SELECT p_brand, p_partkey, p_retailprice, rn::INT AS rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part) WHERE rn <= 3"""),
    ("user_retention", q_user_retention, "count", """
WITH ud AS (SELECT DISTINCT user_id AS u, ts::TIMESTAMP::DATE AS d FROM events),
f AS (SELECT u, min(d) AS cohort_day FROM ud GROUP BY u),
sz AS (SELECT cohort_day, count(*)::BIGINT AS n_cohort FROM f GROUP BY cohort_day),
act AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, ud.d)::INT AS day_offset,
         count(*)::BIGINT AS n_active
  FROM ud JOIN f USING (u)
  WHERE date_diff('day', f.cohort_day, ud.d) <= 7
  GROUP BY 1, 2
)
SELECT act.cohort_day::VARCHAR AS cohort_day, day_offset, n_active, n_cohort,
       round(n_active / n_cohort, 6) AS retention
FROM act JOIN sz USING (cohort_day)"""),
    ("user_sessions", q_user_sessions, "count", """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
), flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
  FROM flagged
)
SELECT user_id, session_id, min(us) AS session_start_us, max(us) AS session_end_us,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_id"""),
    ("value_percentiles", q_value_percentiles, None, """
SELECT event_type, count(*)::BIGINT AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type"""),
    ("audio_wav_segments", q_audio_wav_segments, "count", """
WITH p AS (
  SELECT doc_id::VARCHAR AS media_id,
         ((2000 + (doc_id * 37) % 20000) * 1000)
           // (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               ELSE 44100 END) AS duration_ms
  FROM documents
)
SELECT media_id, i::INT AS segment_index,
       (i * 500)::BIGINT AS start_ms,
       least((i + 1) * 500, duration_ms)::BIGINT AS end_ms
FROM (SELECT media_id, duration_ms,
             unnest(generate_series(0, (ceil(duration_ms / 500.0))::BIGINT - 1)) AS i
      FROM p)"""),
    ("bluegreen_swap", q_bluegreen_swap, "count", """
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       'green' AS live_color
FROM documents GROUP BY lang"""),
    ("cluster_keywords", q_cluster_keywords, "count", oracles.q_cluster_keywords(8, 5)),
    ("contamination_report", q_contamination_report, "count", oracles.q_contamination_report(n=2)),
    ("gdpr_sync_replay", q_gdpr_sync_replay, "one_rep", oracles.q_gdpr_sync_replay()),
    # row-form batch replay: a hash match proves the packed
    # shard->pack->merge->estimate algebra == batch registers
    ("approx_distinct_hll_packed", q_approx_distinct_hll_packed, "count",
     oracles.q_approx_distinct_hll(p=8)),
    # two-level bucketing is a pure shuffle-shape change: identical
    # result set to the one-level join, so it shares its raw-range
    # oracle verbatim — the hash match IS the equality pin at SF
    ("interval_overlap_two_level", q_interval_overlap_two_level, "count",
     _ORACLE_INTERVAL_OVERLAP),
    ("embedding_dbscan", q_embedding_dbscan, "count", oracles.q_embedding_dbscan(50_000, 4)),
    ("bm25_rocchio_search", q_bm25_rocchio_search, "count",
     oracles.q_bm25_rocchio_search(10, 5, 8, 400)),
    ("lm_dirichlet_search", q_lm_dirichlet_search, "count",
     oracles.q_lm_dirichlet_search(10, 300.0)),
    # horizon > corpus span makes the stream output exactly the
    # distinct key set; bounded-state semantics unit-pinned
    ("streaming_exact_dedup", q_streaming_exact_dedup, "one_rep",
     "SELECT DISTINCT event_type, user_id FROM events"),
    ("mmr_rerank", q_mmr_rerank, "count", oracles.q_mmr_rerank(16, 8, 500)),
    ("sliding_uniques_hll", q_sliding_uniques_hll, "count", oracles.q_sliding_uniques_hll(8, 7)),
    ("phrase_search", q_phrase_search, "count", oracles.q_phrase_search(k=10)),
    ("search_facets", q_search_facets, "count", oracles.q_search_facets(50, 5)),
    ("query_autocomplete", q_query_autocomplete, "count", oracles.q_query_autocomplete(k=5)),
    ("user_survival", q_user_survival, "count", oracles.q_user_survival(36, "purchase")),
    ("benford_audit", q_benford_audit, "count", oracles.q_benford_audit("orders", "o_totalprice")),
    ("token_gini", q_token_gini, "count", oracles.q_token_gini(10)),
    ("knn_label_modularity", q_knn_label_modularity, "count", oracles.q_knn_label_modularity(5)),
    ("lm_kneser_ney", q_lm_kneser_ney, "count", oracles.q_lm_kneser_ney(0.75)),
    ("boolean_search", q_boolean_search, "count", oracles.q_boolean_search(k=10)),
    ("stat_ks_test", q_stat_ks_test, "count", oracles.q_stat_ks_test("click", "purchase")),
    ("stat_mann_whitney", q_stat_mann_whitney, "count",
     oracles.q_stat_mann_whitney("view", "purchase")),
    ("stat_chi_square", q_stat_chi_square, "count", oracles.q_stat_chi_square(5)),
    ("good_turing", q_good_turing, "count", oracles.q_good_turing(20, n=2)),
    ("stupid_backoff", q_stupid_backoff, "count", oracles.q_stupid_backoff(400)),
    ("chunk_collapse", q_chunk_collapse, None, oracles.q_chunk_collapse(20)),
    ("chunk_fixed", q_chunk_fixed, None, _ORACLE_CHUNK_FIXED),
    ("corpus_shards", q_corpus_shards, None, """
SELECT doc_id,
       ({h} % 16)::INT AS shard,
       len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> length(x) > 0))::BIGINT AS n_tokens
FROM documents""".format(h=oracles.hash60_expr("doc_id::VARCHAR || '#shard'"))),
    ("cube_agg", q_cube_agg, None, """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus)::INT AS gid,
       count(*)::BIGINT AS n,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
    ("customers_without_orders", q_customers_without_orders, None, """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')"""),
    ("doc_length_histogram", q_doc_length_histogram, None, """
SELECT (floor(n_chars / 50) * 50)::BIGINT AS bucket,
       count(*)::BIGINT AS n, round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1"""),
    ("events_anomaly", q_events_anomaly, "count", """
WITH st AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(value::DECIMAL(28,8)) AS s1,
         sum((value::DECIMAL(28,8) * value::DECIMAL(28,8))::DECIMAL(38,10)) AS s2
  FROM events GROUP BY event_type
), m AS (
  SELECT event_type, n, s1::DOUBLE / n AS mean,
         sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / (n - 1)) AS sd
  FROM st
)
SELECT e.event_id, e.event_type,
       round(e.value, 6) AS value,
       round(m.mean, 6) AS mean,
       round(m.sd, 6) AS sd,
       round((e.value - m.mean) / m.sd, 6) AS z
FROM events e JOIN m USING (event_type)
WHERE m.n >= 2 AND m.sd > 0 AND abs((e.value - m.mean) / m.sd) > 2.5"""),
    ("events_asof", q_events_asof, "count", """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us, value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us,
         max(event_id)::BIGINT AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.event_id, p.us AS purchase_us, p.value,
       c.click_event_id, c.us AS click_us, p.us - c.us AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us"""),
    ("events_funnel", q_events_funnel, "count", """
WITH e AS (
  SELECT user_id AS u, event_type AS et, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
),
r0 AS (SELECT u, min(us) AS t FROM e WHERE et = 'view' GROUP BY u),
r1 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r0 USING (u)
       WHERE e.et = 'click' AND e.us > r0.t GROUP BY e.u),
r2 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r1 USING (u)
       WHERE e.et = 'purchase' AND e.us > r1.t GROUP BY e.u),
c AS (
  SELECT 0 AS step_index, 'view' AS step, count(*)::BIGINT AS n_users FROM r0
  UNION ALL
  SELECT 1, 'click', count(*)::BIGINT FROM r1
  UNION ALL
  SELECT 2, 'purchase', count(*)::BIGINT FROM r2
)
SELECT step_index::INT AS step_index, step, n_users,
       round(n_users / (SELECT n_users FROM c WHERE step_index = 0), 6) AS conversion
FROM c"""),
    ("events_props_json", q_events_props_json, "count", """
WITH e AS (
  SELECT event_type, try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT event_type, count(k)::BIGINT AS n_with_k, min(k) AS min_k, max(k) AS max_k,
       sum(k)::BIGINT AS sum_k, round(avg(k), 6) AS avg_k
FROM e GROUP BY event_type"""),
    ("events_range_window", q_events_range_window, "count", """
SELECT user_id, event_id, us,
       count(*) OVER w::BIGINT AS n_10m,
       round(sum(value) OVER w, 4) AS sum_10m
FROM (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us, value FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)"""),
    ("events_sliding", q_events_sliding, None, """
WITH slid AS (
  SELECT epoch_us(time_bucket(INTERVAL 5 MINUTES, ts::TIMESTAMP))::BIGINT AS b0,
         event_type, ts
  FROM events
), expanded AS (
  SELECT b0 AS bucket_us, event_type FROM slid
  UNION ALL
  SELECT b0 - 300000000 AS bucket_us, event_type FROM slid
)
SELECT bucket_us, event_type, count(*)::BIGINT AS n
FROM expanded GROUP BY bucket_us, event_type"""),
    ("events_tumbling", q_events_tumbling, "count", """
SELECT epoch_us(time_bucket(INTERVAL 5 MINUTES, ts::TIMESTAMP))::BIGINT AS bucket_us,
       event_type, count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2"""),
    ("join_revenue", q_join_revenue, "count", """
SELECT n_name, count(*)::BIGINT AS n_orders,
       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""),
    ("more_like_this", q_more_like_this, "count", oracles.q_more_like_this(100, 10, 16)),
    ("multi_collection_dense", q_multi_collection_dense, "count",
     oracles.q_multi_collection_dense(10)),
    ("nb_classify", q_nb_classify, "count", oracles.q_nb_classify(5, "lang")),
    ("ngram_topk", q_ngram_topk, None, f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{oracles.TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({oracles.STOPLIST_SQL}, t)) AS toks
  FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1]))) AS ngram
  FROM tokd WHERE len(toks) >= 2
), cnt AS (
  SELECT ngram, count(*)::BIGINT AS n_docs FROM big GROUP BY ngram
)
SELECT ngram, n_docs,
       row_number() OVER (ORDER BY n_docs DESC, ngram ASC)::INT AS rank
FROM cnt ORDER BY n_docs DESC, ngram ASC LIMIT 20"""),
    ("order_priority", q_order_priority, None, """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY o_orderpriority"""),
    ("parse_routed", q_parse_routed, None, _ORACLE_PARSE_ROUTED),
    ("pricing_summary", q_pricing_summary, "count", """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE AS sum_disc_price,
       sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)) * (1::DECIMAL(8,2) + l_tax::DECIMAL(8,2)))::DECIMAL(30,6))::DOUBLE AS sum_charge,
       round(sum(l_quantity) / count(*), 6) AS avg_qty,
       round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / count(*), 6) AS avg_price,
       round(sum(l_discount::DECIMAL(18,4))::DOUBLE / count(*), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""),
    ("approx_distinct_daily", q_approx_distinct_daily, "count",
     oracles.q_approx_distinct_daily(64)),
    ("artifact_roundtrip", q_artifact_roundtrip, "count", """
SELECT source, count(*)::BIGINT AS n_docs,
       count(DISTINCT sha256(text))::BIGINT AS n_hashes,
       sum(length(text))::BIGINT AS n_bytes,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents GROUP BY source"""),
    ("customer_value_ranks", q_customer_value_ranks, "count", """
WITH tot AS (
  SELECT o_custkey, (sum(o_totalprice::DECIMAL(18,2)))::DOUBLE AS total_value
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey AS custkey, round(total_value, 2) AS total_value,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       (ntile(10) OVER w)::INT AS decile
FROM tot WINDOW w AS (ORDER BY total_value DESC, o_custkey ASC)"""),
    ("dedup_jaccard_prefix", q_dedup_jaccard_prefix, "count", oracles.q_jaccard_prefix(3, 0.5)),
    ("discounted_revenue", q_discounted_revenue, "count", """
SELECT count(*)::BIGINT AS n_lines,
       coalesce(sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE, 0.0) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 35)"""),
    ("events_cusum", q_events_cusum, "count", """
WITH ev AS (
  SELECT event_type AS etype, epoch_us(ts::TIMESTAMP)::BIGINT AS us,
         event_id AS eid, round(value, 6)::DECIMAL(28,6) AS x, value
  FROM events WHERE value IS NOT NULL
), stats AS (
  SELECT etype, round(avg(value), 6) AS mu, round(stddev_samp(value), 6) AS sd
  FROM ev GROUP BY etype
), thr AS (
  SELECT etype, round(mu + 0.5 * sd, 6)::DECIMAL(28,6) AS thr_pos,
         round(mu - 0.5 * sd, 6)::DECIMAL(28,6) AS thr_neg,
         round(4.0 * sd, 6)::DECIMAL(28,6) AS h_band
  FROM stats
), pre AS (
  SELECT ev.etype, us, eid, h_band,
         sum((x - thr_pos)::DECIMAL(28,6)) OVER w AS p_pos,
         sum((thr_neg - x)::DECIMAL(28,6)) OVER w AS p_neg
  FROM ev JOIN thr USING (etype)
  WINDOW w AS (PARTITION BY ev.etype ORDER BY us, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT etype, us, h_band,
         p_pos - least(min(p_pos) OVER w, 0::DECIMAL(28,6)) AS s_pos,
         p_neg - least(min(p_neg) OVER w, 0::DECIMAL(28,6)) AS s_neg
  FROM pre
  WINDOW w AS (PARTITION BY etype ORDER BY us, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT etype AS event_type, count(*)::BIGINT AS n_obs,
       sum(CASE WHEN s_pos > h_band THEN 1 ELSE 0 END)::BIGINT AS n_pos_alarm,
       sum(CASE WHEN s_neg > h_band THEN 1 ELSE 0 END)::BIGINT AS n_neg_alarm,
       min(CASE WHEN s_pos > h_band THEN us END)::BIGINT AS first_pos_us,
       min(CASE WHEN s_neg > h_band THEN us END)::BIGINT AS first_neg_us,
       round(max(s_pos)::DOUBLE, 6) AS max_s_pos,
       round(max(s_neg)::DOUBLE, 6) AS max_s_neg
FROM scored GROUP BY etype"""),
    ("compaction_plan", q_compaction_plan, "count", """
WITH f AS (
  SELECT source, doc_id AS file_id, strlen(text)::INT AS size_bytes
  FROM documents WHERE strlen(text) < 500
), packed AS (
  SELECT source, size_bytes,
         floor((sum(size_bytes) OVER w - size_bytes) / 2000.0)::INT AS bin_id
  FROM f
  WINDOW w AS (PARTITION BY source ORDER BY size_bytes DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT source, bin_id, count(*)::BIGINT AS n_files,
       sum(size_bytes)::BIGINT AS bin_bytes,
       max(size_bytes)::BIGINT AS largest_file,
       min(size_bytes)::BIGINT AS smallest_file,
       round(sum(size_bytes) / 2000.0, 6) AS fill_frac
FROM packed GROUP BY source, bin_id"""),
    ("knn_communities", q_knn_communities, "count", oracles.q_knn_communities(5, 4)),
    ("cdc_dedup", q_cdc_dedup, "noop", oracles.q_cdc_dedup_stats(16, 64)),
    ("events_trend", q_events_trend, "count", """
WITH ev AS (
  SELECT event_type AS etype, epoch_us(ts::TIMESTAMP)::BIGINT AS us, value
  FROM events WHERE value IS NOT NULL
), xx AS (
  SELECT etype,
         ((us / 1000000.0)
          - min(us / 1000000.0) OVER (PARTITION BY etype))::DECIMAL(18,6) AS x,
         round(value, 6)::DECIMAL(18,6) AS y
  FROM ev
), sums AS (
  SELECT etype, count(*)::BIGINT AS n,
         sum(x::DECIMAL(38,6)) AS sx, sum(y::DECIMAL(38,6)) AS sy,
         sum((x::DECIMAL(28,6) * y::DECIMAL(28,6))::DECIMAL(38,12)) AS sxy,
         sum((x::DECIMAL(28,6) * x::DECIMAL(28,6))::DECIMAL(38,12)) AS sxx,
         sum((y::DECIMAL(28,6) * y::DECIMAL(28,6))::DECIMAL(38,12)) AS syy
  FROM xx GROUP BY etype
), dd AS (
  SELECT etype, n, n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
         sxy::DOUBLE AS sxyd, sxx::DOUBLE AS sxxd, syy::DOUBLE AS syyd
  FROM sums
), cf AS (
  SELECT etype, n, nd, sxd, syd,
         nd * sxyd - sxd * syd AS cov_n,
         nd * sxxd - sxd * sxd AS var_x,
         nd * syyd - syd * syd AS var_y
  FROM dd
)
SELECT etype AS event_type, n AS n_obs,
       round((cov_n / var_x) * 86400.0, 6) AS slope_per_day,
       round((syd - (cov_n / var_x) * sxd) / nd, 6) AS intercept,
       round(CASE WHEN var_x > 0 AND var_y > 0
                  THEN (cov_n * cov_n) / (var_x * var_y) END, 6) AS r2
FROM cf"""),
    ("scd2_asof_join", q_scd2_asof_join, "count", """
WITH upd AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate AS ts, o_orderkey AS seq
  FROM orders
), flagged AS (
  SELECT custkey, priority, ts, seq,
         lag(priority) OVER (PARTITION BY custkey ORDER BY ts, seq) AS prev_priority,
         row_number() OVER (PARTITION BY custkey ORDER BY ts, seq) AS rn
  FROM upd
), changes AS (
  SELECT custkey, priority, ts AS valid_from, seq
  FROM flagged WHERE rn = 1 OR prev_priority IS DISTINCT FROM priority
), hist AS (
  SELECT custkey, priority, valid_from,
         lead(valid_from) OVER w AS valid_to
  FROM changes WINDOW w AS (PARTITION BY custkey ORDER BY valid_from, seq)
), snap AS (
  SELECT custkey, priority FROM hist
  WHERE valid_from <= DATE '1997-07-01'
    AND (valid_to IS NULL OR valid_to > DATE '1997-07-01')
)
SELECT n_name, priority, count(*)::BIGINT AS n_customers
FROM snap
JOIN customer ON custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, priority"""),
    ("jl_projection", q_jl_projection, "count", oracles.q_jl_projection(16, 64)),
    # persisted-layout serve is row-identical to the in-one-run
    # operator (equality test-pinned), so the oracle replays the
    # same training composition
    ("knn_ivfpq_serve", q_knn_ivfpq_serve, "one_rep",
     oracles.q_knn_ivfpq(5, 64, 16, 4, 8, 16, 20, 1)),
    # one-pass whole-corpus stats: a hash-match against the Spark
    # side's half+half delta-merge IS the merge==recompute proof
    ("bm25_stats_merge", q_bm25_stats_merge, "count", oracles.q_bm25_stats_merge()),
    # chunk-row twin of the md5 boundary rule; serves the fused
    # mapInPandas scan (boundary-equal to the spec form, test-pinned)
    ("cdc_chunks_scan", q_cdc_chunks_scan, "noop", oracles.q_cdc_chunks(16, 64)),
    # sampled trainer with sample >= vocab: same unrolled replay —
    # the driver-hash row IS the local==distributed proof
    ("bpe_merges_sampled", q_bpe_merges_sampled, "count", oracles.q_bpe_merges(8)),
    ("ingest_index", q_ingest_index, "count", _ORACLE_INGEST_INDEX),
    ("chunk_character", q_chunk_character, "count",
     oracles.q_chunk_character(chunk_size=200, overlap=50)),
    ("pii_redact", q_pii_redact, "count", oracles.q_pii_redact()),
    ("lm_quality", q_lm_quality, "count", oracles.q_lm_quality()),
    ("dedup_sentences", q_dedup_sentences, "count", oracles.q_dedup_sentences()),
    ("dataset_split", q_dataset_split, None, oracles.q_dataset_split()),
    ("pack_sequences", q_pack_sequences, None, oracles.q_pack_sequences(seq_len=256)),
    ("decontaminate", q_decontaminate, None, oracles.q_decontaminate(n=2)),
    ("quality_sample", q_quality_sample, None, """
WITH q AS ({q})
SELECT doc_id, quality_score,
       round(0.1 + 0.9 * quality_score, 6) AS keep_prob,
       ({h} % 1000000)
         < floor(round(0.1 + 0.9 * quality_score, 6) * 1e6)::BIGINT AS kept
FROM q""".format(q=_ORACLE_QUALITY,
             h=oracles.hash60_expr("doc_id::VARCHAR || '#sample'"))),
    ("chunk_markdown", q_chunk_markdown, None, oracles.q_chunk_markdown(chunk_size=400)),
    ("chunk_semantic", q_chunk_semantic, None, oracles.q_chunk_semantic(chunk_size=300)),
    ("chunk_hierarchical", q_chunk_hierarchical, None,
     oracles.q_chunk_hierarchical(chunk_size=400)),
    ("chunk_hybrid", q_chunk_hybrid, None, oracles.q_chunk_hybrid(chunk_size=300, overlap=60)),
    ("chunk_recursive", q_chunk_recursive, None, oracles.q_chunk_recursive(chunk_size=200)),
    ("predicate_route", q_predicate_route, None, """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE lang IN ('en', 'de') AND n_chars > 300 AND regexp_matches(source, '^src1.*$')"""),
    ("incremental_changed", q_incremental_changed, None, """
WITH old AS (
  SELECT doc_id, sha256(text) AS old_hash FROM documents WHERE doc_id % 7 <> 0
), new_enum AS (
  SELECT doc_id,
         sha256(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END) AS new_hash
  FROM documents
)
SELECT n.doc_id,
       CASE WHEN o.old_hash IS NULL THEN 'new' ELSE 'modified' END AS change_type
FROM new_enum n LEFT JOIN old o USING (doc_id)
WHERE o.old_hash IS NULL OR n.new_hash <> o.old_hash"""),
    ("collection_counters", q_collection_counters, None, """
SELECT source, count(*)::BIGINT AS document_count,
       sum(n_chars)::BIGINT AS total_size_bytes
FROM documents GROUP BY source"""),
    ("gc_orphans", q_gc_orphans, "count", f"""
WITH {oracles.fixed_chunk_ctes().lstrip()}
SELECT chunk_id, doc_id::BIGINT AS doc_id FROM fchunks
WHERE doc_id::BIGINT % 10 = 0"""),
    ("stale_marking", q_stale_marking, None, """
SELECT d.doc_id, d.source, (d.doc_id % 7 = 0) AS is_stale FROM documents d"""),
    ("run_status_counts", q_run_status_counts, None, """
WITH r AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN 'failed'
              WHEN doc_id % 10 = 1 THEN 'skipped'
              ELSE 'succeeded' END AS status
  FROM documents
)
SELECT count(*)::BIGINT AS files_processed,
       sum(CASE WHEN status = 'succeeded' THEN 1 ELSE 0 END)::BIGINT AS files_succeeded,
       sum(CASE WHEN status = 'failed' THEN 1 ELSE 0 END)::BIGINT AS files_failed,
       sum(CASE WHEN status = 'skipped' THEN 1 ELSE 0 END)::BIGINT AS files_skipped
FROM r"""),
    ("run_dead_letter", q_run_dead_letter, None, """
WITH r AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN 'failed'
              WHEN doc_id % 10 = 1 THEN 'skipped'
              ELSE 'succeeded' END AS status,
         CASE WHEN doc_id % 20 = 0 THEN 'connection timeout to vecpipe'
              ELSE 'parse error: bad header' END AS error_message,
         (doc_id % 4)::INT AS retry_count
  FROM documents
), dead AS (
  SELECT doc_id, status, error_message, retry_count,
         CASE WHEN lower(error_message) LIKE '%timeout%'
                OR lower(error_message) LIKE '%connection%'
                OR lower(error_message) LIKE '%throttled%'
                OR lower(error_message) LIKE '%oom%'
              THEN 'transient' ELSE 'permanent' END AS error_category
  FROM r WHERE status = 'failed'
)
SELECT doc_id, status, error_message, retry_count, error_category,
       error_category = 'transient' AS retryable,
       (error_category = 'transient' AND retry_count < 3) AS will_retry
FROM dead"""),
    ("projection_labels", q_projection_labels, None, """
SELECT doc_id, coalesce(source, 'unknown') AS category_source,
       CASE WHEN n_chars < 200 THEN 'small'
            WHEN n_chars < 1000 THEN 'medium'
            ELSE 'large' END AS category_size
FROM documents"""),
    ("benchmark_matrix", q_benchmark_matrix, None, f"""
SELECT m.model, m.quantization, m.k AS run_k, a.metric,
       round(a.value, 6) AS value
FROM (SELECT model, quantization, k
      FROM (VALUES ('modelA'), ('modelB')) m(model)
      CROSS JOIN (VALUES ('float32'), ('float16'), ('int8')) q(quantization)
      CROSS JOIN (VALUES (5), (10)) kk(k)) m
JOIN ({oracles.q_ir_metrics_agg((5, 10), 10)}) a
  ON a.k IS NULL OR a.k = m.k"""),
    ("benchmark_mapping", q_benchmark_mapping, None, _ORACLE_BENCHMARK_MAPPING),
    ("embedding_quantize", q_embedding_quantize, None, _ORACLE_EMBEDDING_QUANTIZE),
    ("bm25_corpus_stats", q_bm25_corpus_stats, None, oracles.q_bm25_corpus_stats()),
    ("bm25_term_stats", q_bm25_term_stats, None, oracles.q_bm25_term_stats()),
    ("extract_keywords", q_keywords, None, oracles.q_keywords(top_k=5)),
    ("extract_entities", q_entities, None, oracles.q_entities()),
    ("knn_pq", q_knn_pq, "noop", oracles.q_knn_pq(5, 64, 8, 16, 20)),
    ("pca_projection", q_pca_projection, "count", oracles.q_pca_spectrum()),
    ("knn_bruteforce", q_knn_bruteforce, "noop", oracles.q_knn_bruteforce(5)),
    ("knn_lsh", q_knn_lsh, "noop", oracles.q_knn_lsh(5, 64, 8)),
    ("knn_ivf", q_knn_ivf, "noop", oracles.q_knn_ivf(5, 16, 4)),
    ("knn_quantized", q_knn_quantized, "noop", oracles.q_knn_quantized(5, 20)),
    ("quantile_sketch", q_quantile_sketch, "count",
     oracles.q_quantile_sketch(0.02, (0.25, 0.5, 0.9, 0.99))),
    ("url_domain_stats", q_url_domain_stats, "count", _ORACLE_URL_DOMAIN_STATS),
    ("customer_order_distribution", q_customer_order_distribution, "count", """
SELECT c_count, count(*)::BIGINT AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) t
GROUP BY c_count"""),
    ("top_supplier", q_top_supplier, "count", """
WITH rev AS (
  SELECT l_suppkey,
         sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4)) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, r::DOUBLE AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT max(r) FROM rev)"""),
    ("idle_customer_balance", q_idle_customer_balance, "count", """
WITH pos AS (
  SELECT sum(c_acctbal::DECIMAL(18,2)) AS s, count(*)::BIGINT AS n
  FROM customer WHERE c_acctbal > 0)
SELECT n_name, count(*)::BIGINT AS n_customers,
       sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS total_bal
FROM customer CROSS JOIN pos
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal::DECIMAL(18,2) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
GROUP BY n_name"""),
    ("bloom_prune", q_bloom_prune, "count", """
WITH skeys AS (
  SELECT DISTINCT c_custkey AS sk FROM customer WHERE c_nationkey = 3
), bitsrc AS (
  SELECT DISTINCT
    ('0x'||substr(md5(sk::VARCHAR || '#' || i::VARCHAR),1,15))::BIGINT % 1024 AS setbit
  FROM skeys, range(3) t(i)
), pkeys AS (
  SELECT DISTINCT o_custkey AS pk FROM orders
), probe AS (
  SELECT pk,
    ('0x'||substr(md5(pk::VARCHAR || '#' || i::VARCHAR),1,15))::BIGINT % 1024 AS bitpos
  FROM pkeys, range(3) t(i)
), hits AS (
  SELECT pk, min(CASE WHEN b.setbit IS NOT NULL THEN 1 ELSE 0 END) AS passes
  FROM probe LEFT JOIN bitsrc b ON probe.bitpos = b.setbit GROUP BY pk
), truth AS (
  SELECT pk, CASE WHEN sk IS NOT NULL THEN 1 ELSE 0 END AS is_true
  FROM pkeys LEFT JOIN skeys ON pk = sk
)
SELECT (SELECT count(*) FROM skeys)::BIGINT AS n_small_keys,
       (SELECT count(*) FROM bitsrc)::BIGINT AS n_bits_set,
       count(*)::BIGINT AS n_probe_keys,
       sum(passes)::BIGINT AS n_pass,
       sum(is_true)::BIGINT AS n_true,
       sum(CASE WHEN passes = 1 AND is_true = 0 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
       round(sum(CASE WHEN passes = 1 AND is_true = 0 THEN 1 ELSE 0 END)::DOUBLE
             / greatest(count(*) - sum(is_true), 1), 6) AS fp_rate
FROM hits JOIN truth USING (pk)"""),
    ("winsorized_stats", q_winsorized_stats, "count", f"""
WITH cuts AS ({oracles.q_quantile_sketch(0.02, (0.05, 0.95))}),
cw AS (
  SELECT event_type, min(estimate) AS lo, max(estimate) AS hi
  FROM cuts GROUP BY event_type
)
SELECT e.event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN value < lo THEN 1 ELSE 0 END)::BIGINT AS n_lo,
       sum(CASE WHEN value > hi THEN 1 ELSE 0 END)::BIGINT AS n_hi,
       round(sum((CASE WHEN lo IS NOT NULL
                       THEN least(greatest(value, lo), hi)
                       ELSE value END)::DECIMAL(28,8))::DOUBLE
             / count(*), 6) AS winsorized_mean,
       round(sum(value::DECIMAL(28,8))::DOUBLE / count(*), 6) AS raw_mean
FROM events e LEFT JOIN cw USING (event_type)
GROUP BY e.event_type"""),
    ("nation_trade_volume", q_nation_trade_volume, "count", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::INT AS l_year,
       sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)"""),
    # the oracle keeps the CORRELATED subquery form on purpose —
    # DuckDB's decorrelator is the independent cross-check of the
    # hand-decorrelated Spark plan
    ("min_cost_supplier", q_min_cost_supplier, "count", """
SELECT p_partkey, s_suppkey, s_name, l_extendedprice::DOUBLE AS min_price
FROM part, lineitem, supplier
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_size <= 3
  AND l_extendedprice = (SELECT min(l2.l_extendedprice) FROM lineitem l2
                         WHERE l2.l_partkey = p_partkey)"""),
    ("excess_qty_supplier", q_excess_qty_supplier, "count", """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (
  SELECT 1 FROM lineitem l1
  WHERE l1.l_suppkey = s_suppkey
  GROUP BY l1.l_partkey
  HAVING sum(l1.l_quantity::DECIMAL(18,2)) * 20 >
         (SELECT sum(l2.l_quantity::DECIMAL(18,2)) FROM lineitem l2
          WHERE l2.l_partkey = l1.l_partkey) * 3
)"""),
    # the streaming MG state + exact recount provably equals the
    # plain batch GROUP BY/HAVING for any micro-batch split — the
    # oracle IS that batch recompute (m=80)
    ("streaming_heavy_hitters", q_streaming_heavy_hitters, "count", """
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            t -> length(t) > 0)) AS k
  FROM documents
), tot AS (SELECT count(*)::BIGINT AS n FROM tok)
SELECT k AS token, count(*)::BIGINT AS n,
       round(count(*)::DOUBLE / min(tot.n), 6) AS frac
FROM tok CROSS JOIN tot
GROUP BY k HAVING count(*) * 80 > min(tot.n)"""),
    # the config-driven pipeline is chunk_fixed 200/50 + the mock
    # embedding over chunk content — both replayed in SQL
    ("pipeline_config", q_pipeline_config, "count", f"""
WITH chunks AS ({_ORACLE_CHUNK_FIXED})
SELECT doc_id, chunk_id, chunk_index, token_count,
       round({mock_embedding_sql("content")}[1], 6) AS emb0
FROM chunks"""),
    # brute-force all-pairs — the completeness check of the
    # deletion-neighborhood blocking
    ("edit_distance_pairs", q_edit_distance_pairs, "count", """
WITH n AS (
  SELECT DISTINCT p_name AS s FROM part
  UNION
  SELECT DISTINCT s_name FROM supplier
)
SELECT a.s AS name_a, b.s AS name_b, levenshtein(a.s, b.s)::INT AS dist
FROM n a JOIN n b ON a.s < b.s AND levenshtein(a.s, b.s) <= 1"""),
    ("bpe_encode_words", q_bpe_encode_words, "count", oracles.q_bpe_encode_words(8, 30)),
    ("sole_fault_supplier", q_sole_fault_supplier, "count", """
WITH fault AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
  WHERE l.l_returnflag = 'R'
),
alll AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
sole AS (
  SELECT f.l_orderkey, f.l_suppkey FROM fault f
  WHERE EXISTS (SELECT 1 FROM alll a
                WHERE a.l_orderkey = f.l_orderkey
                  AND a.l_suppkey <> f.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM fault f2
                    WHERE f2.l_orderkey = f.l_orderkey
                      AND f2.l_suppkey <> f.l_suppkey)
)
SELECT s_name, count(*)::BIGINT AS numwait
FROM sole JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""),
    ("nation_year_profit", q_nation_year_profit, "count", """
SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
       sum((l_extendedprice::DECIMAL(18,2)
            * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE AS sum_profit,
       count(*)::BIGINT AS n_lines
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE EXISTS (SELECT 1 FROM part
              WHERE p_partkey = l_partkey AND p_name LIKE '%widget%')
GROUP BY 1, 2"""),
    ("gopher_quality", q_gopher_quality, "count", oracles.q_gopher_rules(50, 100000)),
    ("knn_ivfpq", q_knn_ivfpq, "noop", oracles.q_knn_ivfpq(5, 64, 16, 4, 8, 16, 20, 1)),
    ("dsir_weights", q_dsir_weights, "noop", oracles.q_dsir_weights(64, "lang = 'en'")),
    ("streaming_count_min", q_streaming_count_min, "count",
     oracles.q_count_min(4, 256, 30, full_report=False)),
    ("semdedup", q_semdedup, "noop", oracles.q_semdedup(0.95, 16, 1)),
    ("logreg_scores", q_logreg_scores, "count",
     oracles.q_logreg_scores(64, 3, 0.05, "n_chars > 311")),
    ("streaming_lsh_dedup", q_streaming_lsh_dedup, "count",
     oracles.q_lsh_signature_matches(16, 4, 3, 0.5)),
    ("market_share", q_market_share, "count", """
WITH asia_cust AS (
  SELECT c_custkey FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'),
sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey),
j AS (
  SELECT year(o.o_orderdate)::INT AS o_year,
         (l.l_extendedprice::DECIMAL(18,2)
          * (1::DECIMAL(8,2) - l.l_discount::DECIMAL(8,2)))::DECIMAL(30,4) AS rev,
         sn.supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN sn ON l.l_suppkey = sn.s_suppkey
  WHERE o.o_custkey IN (SELECT c_custkey FROM asia_cust)),
agg AS (
  SELECT o_year,
         sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
                  ELSE 0::DECIMAL(30,4) END) AS nat_rev,
         sum(rev) AS all_rev
  FROM j GROUP BY o_year)
SELECT o_year, round(nat_rev::DOUBLE / all_rev::DOUBLE, 6) AS mkt_share,
       all_rev::DOUBLE AS total_revenue
FROM agg"""),
    ("top_revenue_parts", q_top_revenue_parts, "count", """
WITH pp AS (
  SELECT l_partkey AS p_partkey,
         sum((l_extendedprice::DECIMAL(18,2)
              * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4)) AS part_rev
  FROM lineitem GROUP BY l_partkey),
t AS (SELECT sum(part_rev) AS total_rev, count(*)::BIGINT AS n_parts FROM pp)
SELECT p_partkey, part_rev::DOUBLE AS revenue,
       round(part_rev::DOUBLE * n_parts / total_rev::DOUBLE, 6) AS vs_mean
FROM pp, t WHERE part_rev * n_parts * 4 > total_rev * 5"""),
    ("corpus_overlap", q_corpus_overlap, "noop", oracles.q_corpus_overlap(64, 3)),
    ("corpus_drift_psi", q_corpus_drift_psi, "count", oracles.q_corpus_drift_psi(32)),
    ("late_data_audit", q_late_data_audit, "count", """
WITH ev AS (
  SELECT (event_id // 1000)::BIGINT AS batch, epoch_us(ts::TIMESTAMP)::BIGINT AS ts_us
  FROM events
),
pb AS (SELECT batch, max(ts_us) AS bmax FROM ev GROUP BY batch),
fr AS (
  SELECT batch,
         max(bmax) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS frontier_us
  FROM pb
)
SELECT (ts_us // 300000000) * 300000000 AS bucket_us,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN ts_us < frontier_us - 60000000 THEN 1 ELSE 0 END)::BIGINT AS n_late_60s,
       sum(CASE WHEN ts_us < frontier_us - 300000000 THEN 1 ELSE 0 END)::BIGINT AS n_late_300s,
       round(max(greatest(coalesce(frontier_us - ts_us, -1), 0))::DOUBLE / 1e6, 6) AS max_lateness_s
FROM ev JOIN fr USING (batch)
GROUP BY bucket_us"""),
    ("leakage_safe_split", q_leakage_safe_split, "count",
     oracles.q_leakage_safe_split(2, 10, 16, 4, 3, 0.5)),
    ("bm25_postings", q_bm25_postings, "count", oracles.q_bm25_postings()),
    ("bm25_search", q_bm25_search, "count", oracles.q_bm25_search(10)),
    ("hybrid_rrf", q_hybrid_rrf, "count", oracles.q_hybrid_rrf(10, 20)),
    ("ir_metrics", q_ir_metrics, "count", oracles.q_ir_metrics((5, 10), 10)),
    ("ir_metrics_agg", q_ir_metrics_agg, None, oracles.q_ir_metrics_agg((5, 10), 10)),
    ("hyde_hybrid", q_hyde_hybrid, None, oracles.q_hyde_hybrid(k=10, search_k=20)),
    ("splade_search", q_splade_search, None, oracles.q_splade_search(k=10)),
    ("dense_mock_search", q_dense_mock_search, "count", oracles.q_dense_mock_search(10)),
    ("sparse_vectors", q_sparse_vectors, None, _ORACLE_SPARSE_VECTORS),
    ("dedup_minhash_lsh", q_dedup_minhash_lsh, "count", oracles.q_minhash_lsh(16, 4, 3, 0.5)),
    ("dedup_clusters", q_dedup_clusters, None, oracles.q_dedup_clusters(16, 4, 3, 0.5)),
    ("dedup_exact", q_dedup_exact, None, oracles.q_dedup_exact()),
    ("dedup_ngram_jaccard", q_dedup_ngram_jaccard, None, oracles.q_ngram_jaccard(3, 0.5)),
    ("dedup_simhash_pairs", q_dedup_simhash_pairs, None, oracles.q_simhash_pairs(max_hamming=3)),
    ("text_readability", q_text_readability, "count", oracles.Q_TEXT_READABILITY),
    ("source_mix", q_source_mix, "count", oracles.Q_SOURCE_MIX),
    ("events_rolling", q_events_rolling, "count", """
SELECT event_id, user_id,
       round(avg(value) OVER w, 6) AS roll_avg,
       round(min(value) OVER w, 6) AS roll_min,
       round(max(value) OVER w, 6) AS roll_max,
       (count(*) OVER w)::INT AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""),
    ("value_correlation", q_value_correlation, "count", """
WITH agg AS (
  SELECT l_returnflag, count(*)::BIGINT AS n,
         sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sx,
         sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sy,
         sum(l_quantity::DECIMAL(18,2) * l_quantity::DECIMAL(18,2))::DOUBLE AS sxx,
         sum(l_extendedprice::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2))::DOUBLE AS syy,
         sum(l_quantity::DECIMAL(18,2) * l_extendedprice::DECIMAL(18,2))::DOUBLE AS sxy,
         sum(l_discount::DECIMAL(8,2))::DOUBLE AS sd,
         sum(l_discount::DECIMAL(8,2) * l_discount::DECIMAL(8,2))::DOUBLE AS sdd
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, n,
       round(((sxy - sx * sy / n) / (n - 1))
             / sqrt(((sxx - sx * sx / n) / (n - 1)) * ((syy - sy * sy / n) / (n - 1))), 6) AS corr_qty_price,
       round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price,
       round(sqrt((sdd - sd * sd / n) / (n - 1)), 6) AS stddev_disc
FROM agg"""),
    ("lm_bigram", q_lm_bigram, "count", """
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents),
dbg AS (
  SELECT doc_id, toks[r.i] AS wa, toks[r.i] || ' ' || toks[r.i + 1] AS gram
  FROM tk, LATERAL unnest(range(1, len(toks))) AS r(i)
  WHERE len(toks) >= 2),
bgc AS (SELECT gram, any_value(wa) AS wa, count(*)::BIGINT AS c12 FROM dbg GROUP BY gram),
uni AS (SELECT w, count(*)::BIGINT AS c1
        FROM (SELECT unnest(toks) AS w FROM tk) s GROUP BY w),
v AS (SELECT count(*)::BIGINT AS vsz FROM uni),
model AS (
  SELECT gram, round(ln((c12 + 0.5) / (c1 + 0.5 * vsz)), 9)::DECIMAL(20,9) AS lp
  FROM bgc JOIN uni ON bgc.wa = uni.w, v),
agg AS (
  SELECT doc_id, count(*)::INT AS n_bigrams, sum(lp)::DECIMAL(28,9) AS slp
  FROM dbg JOIN model USING (gram) GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       round(slp::DOUBLE / n_bigrams, 6) AS avg_logprob,
       round(exp(-(slp::DOUBLE / n_bigrams)), 6) AS ppl
FROM agg"""),
    ("events_transitions", q_events_transitions, "count", """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
  FROM events),
pairs AS (
  SELECT prev_event, event_type AS next_event, count(*)::BIGINT AS n
  FROM seq WHERE prev_event IS NOT NULL
  GROUP BY prev_event, event_type)
SELECT prev_event, next_event, n,
       round(n / (sum(n) OVER (PARTITION BY prev_event)), 6) AS p_next
FROM pairs"""),
    ("text_boilerplate", q_text_boilerplate, "count", """
WITH sents AS (
  SELECT doc_id, source AS src, lower(trim(s)) AS s
  FROM (SELECT doc_id, source, unnest(regexp_split_to_array(text, '[.!?] ')) AS s
        FROM documents)
  WHERE lower(trim(s)) != ''),
hs AS (SELECT doc_id, src, (('0x'||substr(md5(cast(lower(trim(s)) as varchar)),1,15))::bigint) AS h
       FROM (SELECT doc_id, src, s FROM sents) t),
sizes AS (SELECT source AS src, count(DISTINCT doc_id) AS n_src_docs FROM documents GROUP BY source),
bp AS (
  SELECT src, h FROM (
    SELECT hs.src, hs.h, count(DISTINCT hs.doc_id) AS n_with, any_value(sizes.n_src_docs) AS n_src_docs
    FROM hs JOIN sizes USING (src) GROUP BY hs.src, hs.h)
  WHERE n_with >= 2 AND n_with / n_src_docs >= 0.3)
SELECT doc_id, count(*)::INT AS n_sentences,
       sum(CASE WHEN bp.h IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_boilerplate,
       round(sum(CASE WHEN bp.h IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS bp_frac
FROM hs LEFT JOIN bp ON hs.src = bp.src AND hs.h = bp.h
GROUP BY doc_id"""),
    ("funnel_latency", q_funnel_latency, "count", """
WITH e AS (
  SELECT user_id AS u, event_type AS et, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
),
r0 AS (SELECT u, min(us) AS t FROM e WHERE et = 'view' GROUP BY u),
r1 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r0 USING (u)
       WHERE e.et = 'click' AND e.us > r0.t GROUP BY e.u),
r2 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r1 USING (u)
       WHERE e.et = 'purchase' AND e.us > r1.t GROUP BY e.u),
lat AS (SELECT (r2.t - r0.t) / 1000000.0 AS s FROM r2 JOIN r0 USING (u))
SELECT count(*)::BIGINT AS n_converted,
       round(quantile_cont(s, 0.5), 6) AS p50_s,
       round(quantile_cont(s, 0.9), 6) AS p90_s,
       round(max(s), 6) AS max_s
FROM lat"""),
    ("source_mix_temp", q_source_mix_temp, "count", """
WITH per AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
wtd AS (SELECT source, n_docs, pow(n_docs::DOUBLE, 0.5) AS w FROM per),
tot AS (SELECT sum(w) AS w_total FROM wtd),
sh AS (SELECT source, n_docs, w / w_total AS target_share FROM wtd, tot),
sc AS (SELECT min(n_docs / target_share) AS scale FROM sh)
SELECT source, n_docs,
       round(target_share, 6) AS target_share,
       floor(scale * target_share)::BIGINT AS planned_n,
       round(floor(scale * target_share) / n_docs, 6) AS sample_rate
FROM sh, sc"""),
    ("session_paths", q_session_paths, "count", """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, us,
         CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, event_id, event_type, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS sid
  FROM flagged
), capped AS (
  SELECT * FROM (
    SELECT user_id, sid, event_type, us, event_id,
           row_number() OVER (PARTITION BY user_id, sid ORDER BY us, event_id) AS rn
    FROM sess) WHERE rn <= 8
), p AS (
  SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM capped GROUP BY user_id, sid
)
SELECT path, count(*)::BIGINT AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 20"""),
    ("doc_outliers", q_doc_outliers, "count", oracles.q_doc_outliers(16, 1, -1.0)),
    ("hybrid_weighted", q_hybrid_weighted, "count", oracles.q_hybrid_weighted(10, 20, 0.5)),
    ("profile_table", q_profile_table, "count", oracles.q_profile_table()),
    ("state_islands", q_state_islands, "count", oracles.q_state_islands()),
    ("zipf_fit", q_zipf_fit, "count", oracles.q_zipf_fit(1000)),
    ("length_bins", q_length_bins, "count", oracles.q_length_bins(16)),
    ("hard_negatives", q_hard_negatives, "count", oracles.q_hard_negatives(50, 5, 3)),
    ("knn_pagerank", q_knn_pagerank, "count", oracles.q_knn_pagerank(5, 0.85, 5)),
    ("event_assoc", q_event_assoc, "count", oracles.q_event_assoc(30, 5, 20)),
    ("events_ewma", q_events_ewma, "count", oracles.q_events_ewma(0.3, 8)),
    ("knn_triangles", q_knn_triangles, "count", oracles.q_knn_triangles(5, 20)),
    ("kmv_set_ops", q_kmv_set_ops, "count", oracles.q_kmv_set_ops(64)),
    ("local_supplier_revenue", q_local_supplier_revenue, "count", """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       (sum((l.l_extendedprice::DECIMAL(18,2)
             * (1::DECIMAL(8,2) - l.l_discount::DECIMAL(8,2)))::DECIMAL(30,4)))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2"""),
    ("priority_grouping_sets", q_priority_grouping_sets, "count", """
WITH j AS (
  SELECT o.o_orderpriority, n.n_name, o.o_totalprice
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(n_name, 'ALL') AS nation,
       (grouping(o_orderpriority) * 2 + grouping(n_name))::INT AS gid,
       count(*)::BIGINT AS n_orders,
       round((sum(o_totalprice::DECIMAL(18,2)))::DOUBLE, 2) AS total_value
FROM j
GROUP BY GROUPING SETS ((o_orderpriority, n_name), (o_orderpriority), (n_name), ())"""),
    ("events_twap", q_events_twap, "count", """
WITH g AS (
  SELECT event_type, value,
         CASE WHEN lead(epoch_us(ts::TIMESTAMP)::BIGINT) OVER w IS NULL THEN NULL
              ELSE least(lead(epoch_us(ts::TIMESTAMP)::BIGINT) OVER w
                           - epoch_us(ts::TIMESTAMP)::BIGINT,
                         600000000) END AS w_us
  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type, count(*)::BIGINT AS n_intervals,
       round((sum(value::DECIMAL(18,6) * w_us))::DOUBLE / (sum(w_us))::DOUBLE, 6) AS twap,
       round(avg(value), 6) AS plain_avg
FROM g WHERE w_us IS NOT NULL GROUP BY event_type"""),
    ("fuzzy_pairs", q_fuzzy_pairs, "count", oracles.q_fuzzy_pairs(12, 40, 5)),
    ("purchase_attribution", q_purchase_attribution, "count", """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP)::BIGINT AS us
  FROM events
), flagged AS (
  SELECT *, CASE WHEN us - lag(us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, event_id, event_type, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
  FROM flagged
), lt AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id, sid ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_t
  FROM sess
), p AS (SELECT coalesce(prev_t, 'direct') AS touch FROM lt WHERE event_type = 'purchase')
SELECT touch, count(*)::BIGINT AS n_purchases,
       round(count(*)::DOUBLE / (SELECT count(*) FROM p), 6) AS share
FROM p GROUP BY touch"""),
    ("weighted_sample", q_weighted_sample, "count", oracles.q_weighted_sample(50)),
    ("events_pivot", q_events_pivot, "count", """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')::BIGINT AS n_click,
       count(*) FILTER (WHERE event_type = 'error')::BIGINT AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase')::BIGINT AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')::BIGINT AS n_signup,
       count(*) FILTER (WHERE event_type = 'view')::BIGINT AS n_view,
       count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN
         ('click','error','purchase','signup','view'))::BIGINT AS n_other,
       count(*)::BIGINT AS n_total
FROM events GROUP BY user_id"""),
    ("events_dedup_first", q_events_dedup_first, "count", """
WITH b AS (
  SELECT event_type, user_id, event_id, ts,
         (epoch_us(ts::TIMESTAMP)::BIGINT // 300000000) AS bucket
  FROM events
), r AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id, event_type, bucket
                            ORDER BY ts, event_id) AS rn
  FROM b
)
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(1.0 - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
FROM r GROUP BY event_type"""),
    ("ivm_counters", q_ivm_counters, "count", """
SELECT event_type, (ts::TIMESTAMP::DATE)::VARCHAR AS day,
       count(*)::BIGINT AS n,
       round((sum(value::DECIMAL(28,8)))::DOUBLE, 6) AS sum_value
FROM events GROUP BY 1, 2"""),
    ("multimodal_features", q_multimodal_features, "count", """
SELECT doc_id::VARCHAR AS media_id,
       CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
            WHEN 2 THEN 'gif' ELSE 'jpeg' END AS format,
       (16 + (doc_id * 7) % 48)::INT AS width,
       (16 + (doc_id * 13) % 48)::INT AS height,
       (CASE doc_id % 4
          WHEN 2 THEN 3
          WHEN 3 THEN 1 + 2 * (doc_id % 2)
          ELSE CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
        END)::INT AS n_channels
FROM documents"""),
    ("multimodal_frames", q_multimodal_frames, None, """
WITH h AS (
  SELECT doc_id::VARCHAR AS media_id,
         1 + (('0x' || substr(sha256(text), 1, 2))::INT % 8) AS n
  FROM documents
)
SELECT media_id, f::INT AS frame_index, (f * 1000)::BIGINT AS ts_ms
FROM (SELECT media_id, unnest(generate_series(0, n - 1)) AS f FROM h)"""),
    ("splade_vocab", q_splade_vocab, "count", oracles.q_splade_vocab()),
    ("shipping_priority", q_shipping_priority, "count", """
SELECT l_orderkey, o_orderdate::VARCHAR AS order_date,
       sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""),
    ("returned_items", q_returned_items, "count", """
SELECT c_custkey, c_name, n_name,
       sum((l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4))::DOUBLE AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""),
    ("late_shipment_priority", q_late_shipment_priority, "count", """
SELECT o_orderpriority,
       sum(CASE WHEN late THEN 1 ELSE 0 END)::BIGINT AS n_late,
       sum(CASE WHEN late THEN 0 ELSE 1 END)::BIGINT AS n_ontime,
       round(sum(CASE WHEN late THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS late_frac
FROM (SELECT o_orderpriority,
             date_diff('day', o_orderdate, l_shipdate) > 90 AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
GROUP BY o_orderpriority"""),
    ("promo_revenue", q_promo_revenue, "count", """
WITH j AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS month, p_type,
         (l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2)))::DECIMAL(30,4) AS dp
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-07-01 00:00:00'
)
SELECT month,
       round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN dp ELSE 0::DECIMAL(30,4) END)::DOUBLE
             / sum(dp)::DOUBLE, 6) AS promo_pct,
       sum(CASE WHEN p_type = 'PROMO' THEN dp ELSE 0::DECIMAL(30,4) END)::DOUBLE AS promo_revenue
FROM j GROUP BY month"""),
    ("parts_supplier_count", q_parts_supplier_count, "count", """
WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM ps JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC LIMIT 15"""),
    ("small_qty_revenue", q_small_qty_revenue, "count", """
WITH f AS (
  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_brand = 'Brand#13' AND p_type = 'ECONOMY')
), s AS (
  SELECT l_partkey, sum(l_quantity::DECIMAL(18,2)) AS sq,
         count(*)::BIGINT AS n
  FROM f GROUP BY l_partkey
)
SELECT count(*)::BIGINT AS n_lines,
       coalesce(round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 2.0, 6), 0.0) AS avg_yearly
FROM f JOIN s USING (l_partkey)
WHERE l_quantity::DECIMAL(18,2) * 5 * n < sq"""),
    ("large_orders", q_large_orders, "count", """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(18,2)) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity::DECIMAL(18,2)) > 100
)
SELECT c_custkey, c_name, l_orderkey,
       (o_totalprice::DECIMAL(18,2))::DOUBLE AS total_price,
       sum_qty::DOUBLE AS sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, l_orderkey ASC LIMIT 100"""),
    ("phrase_search_slop", q_phrase_search_slop, "count",
     oracles.q_phrase_search_slop(k=10, slop=1)),
    ("ivf_codebook_drift", q_ivf_codebook_drift, "count", oracles.q_ivf_codebook_drift(16, 200)),
    ("stat_tests_from_sketch", q_stat_tests_from_sketch, "count", oracles.q_stat_tests_from_sketch(
        "click", "purchase", 0.01)),
    ("ivf_retrain_recall", q_ivf_retrain_recall, "one_rep",
     oracles.q_ivf_retrain_recall(5, 16, 4)),
    ("streaming_ks", q_streaming_ks, "one_rep", oracles.q_streaming_ks("click", "purchase", 0.01)),
    ("stat_bf_from_sketch", q_stat_bf_from_sketch, "count", oracles.q_stat_bf_from_sketch(0.01)),
    ("streaming_bf", q_streaming_bf, "one_rep", oracles.q_streaming_bf(0.01)),
    ("streaming_psi", q_streaming_psi, "one_rep",
     oracles.q_streaming_psi("click", "purchase", 0.01)),
    ("source_file_filters", q_source_file_filters, "count", """
WITH sub AS (
  SELECT doc_id AS d, text AS content
  FROM documents WHERE doc_id % 19 = 3
), f AS (
  SELECT d, d % 5 AS c,
         CASE d % 5 WHEN 0 THEN '.txt' WHEN 1 THEN '.md'
              WHEN 2 THEN '.json' WHEN 3 THEN '.log' ELSE '.txt' END AS extension,
         content
  FROM sub
)
SELECT 'doc_' || d || extension AS file_name,
       extension,
       CASE extension WHEN '.txt' THEN 'text/plain'
            WHEN '.md' THEN 'text/markdown'
            ELSE 'application/json' END AS mime_type,
       octet_length(encode(content))::BIGINT AS size_bytes,
       sha256(content) AS content_hash
FROM f
WHERE c IN (0, 1, 2) AND octet_length(encode(content)) <= 280"""),
    ("source_git_sync", q_source_git_sync, "count", """
WITH sub AS (
  SELECT doc_id AS d, text FROM documents WHERE doc_id % 23 = 1
), base AS (
  SELECT CASE d % 3 WHEN 0 THEN 'src/doc_' || d || '.py'
              ELSE 'docs/doc_' || d || '.md' END AS rel_path,
         CASE WHEN d % 4 = 2 THEN 'changed' ELSE 'same' END AS status,
         text || CASE WHEN d % 4 = 2
                      THEN chr(10) || 'rev2' ELSE '' END AS content
  FROM sub WHERE d % 3 <> 2
), added AS (
  SELECT 'src/new_' || d || '.py' AS rel_path, 'added' AS status,
         'new ' || text AS content
  FROM sub WHERE d % 4 = 3
)
SELECT rel_path, status,
       octet_length(encode(content))::BIGINT AS size_bytes,
       sha256(content) AS content_hash
FROM (SELECT * FROM base UNION ALL SELECT * FROM added)"""),
    ("source_imap_sync", q_source_imap_sync, "count", """
WITH sub AS (
  SELECT doc_id AS uid, substr(text, 1, 200) AS body,
         TIMESTAMP '1998-01-01 00:00:00'
           + doc_id * INTERVAL 1 MINUTE AS ts
  FROM documents WHERE doc_id % 17 = 2
), cur AS (
  SELECT CAST(floor(max(uid) / 2) AS BIGINT) AS c FROM sub
), msg AS (
  SELECT uid, body, ts,
         CASE WHEN uid % 5 = 0 THEN '=?utf-8?q?Report_' || uid || '?='
              ELSE 'Report ' || uid END AS subj_hdr,
         'sender' || (uid % 7) || '@example.com' AS from_addr
  FROM sub
)
SELECT uid,
       (octet_length(encode(
          'From: ' || from_addr || chr(13) || chr(10) ||
          'To: team@example.com' || chr(13) || chr(10) ||
          'Subject: ' || subj_hdr || chr(13) || chr(10) ||
          'Date: ' || strftime(ts, '%a, %d %b %Y %H:%M:%S') || ' +0000'
                   || chr(13) || chr(10) ||
          'MIME-Version: 1.0' || chr(13) || chr(10) ||
          'Content-Type: text/plain; charset=utf-8'
                   || chr(13) || chr(10) || chr(13) || chr(10)))
        + octet_length(encode(body)))::BIGINT AS size_bytes,
       'Report ' || uid AS subject,
       from_addr,
       'team@example.com' AS to_addr,
       strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+00:00' AS sent_at,
       body,
       'parsed' AS parse_status
FROM msg
WHERE uid > (SELECT c FROM cur)"""),
)))

DRIVER_WINDOW: tuple[str, ...] = tuple(r.name for r in QUERY_TABLE[:50])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {r.name: _fresh(r.fn) for r in QUERY_TABLE}


def oracle_sql() -> dict[str, str]:
    return {r.name: r.sql for r in QUERY_TABLE}

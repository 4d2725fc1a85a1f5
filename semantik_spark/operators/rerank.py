"""Cross-encoder reranking (M4) + candidate expansion (W3) + payload
hydration (J2/J3) + multi-collection merge (J7).

Reference behavior:
  candidate k   = clamp(k*5, 20, 200)      vecpipe/qwen3_search_config.py:91-105
  rerank        = score (query, content) pairs, keep top_k
                                            vecpipe/reranker.py:24-379
  hydration     = fetch payload/content for winner chunk_ids
                                            vecpipe/search/payloads.py, service.py:248-277
  multi-collection = per-collection search → tag → union → global sort
                     → limit k              webui/services/search_service.py:505-585

The real cross-encoder is a pandas_udf over candidate rows only (the
W3 clamp keeps it ≤200 rows/query regardless of corpus size). The
test-mode scorer here is a deterministic token-overlap cosine — fully
SQL-expressible, so the whole rerank path is oracle-checkable; swap
`mock_rerank_score` for the model UDF at deploy time (same contract:
(query_text, content) → double).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.config import (
    RERANK_CANDIDATE_MAX,
    RERANK_CANDIDATE_MIN,
    RERANK_CANDIDATE_MULTIPLIER,
)
from semantik_spark.functions.text import bm25_tokens
from semantik_spark.functions.vectors import _bind, by_name
from semantik_spark.session import local_df


def candidate_k(k: int) -> int:
    """W3: search_k = clamp(k·5, 20, 200) (qwen3_search_config.py:91-105)."""
    return max(RERANK_CANDIDATE_MIN, min(RERANK_CANDIDATE_MAX, k * RERANK_CANDIDATE_MULTIPLIER))


def hydrate(results: DataFrame, docs: DataFrame,
            id_col: str = "doc_id", payload_cols: tuple[str, ...] = ("text",)) -> DataFrame:
    """J2/J3 payload hydration: broadcast-join payload columns onto hit
    rows. Late materialization — scoring ran on narrow columns; content
    is fetched only for winners (service.py:248-277 two-phase fetch)."""
    payload = docs.select(F.col(id_col).alias("doc_id"), *payload_cols)
    # results (hits) are small post-top-k; the payload side is the big
    # table. BroadcastHashJoin cannot build the LEFT side of a left
    # outer join (a broadcast hint there is silently discarded and the
    # whole payload table shuffles), so: broadcast the hit IDS as a
    # semi-join prefilter on the payload scan, then broadcast the
    # hits-sized survivor set into the left join — both joins
    # broadcast, the corpus never shuffles.
    wanted = payload.join(
        F.broadcast(results.select("doc_id").distinct()),
        "doc_id", "left_semi")
    return results.join(F.broadcast(wanted), "doc_id", "left")


@by_name
def mock_rerank_score(query_text: Column | str, content: Column | str) -> Column:
    """Deterministic test-mode 'cross-encoder': token-set cosine
    |q∩d| / sqrt(|q|·|d|). Same contract as the model scorer
    (reranker.py:193-305 returns P('yes') per pair)."""
    # let-bind both token arrays: each is referenced twice below, and
    # Catalyst would re-run the full tokenizer per reference (no CSE)
    return _bind(F.array_distinct(bm25_tokens(query_text)), lambda q: _bind(
        F.array_distinct(bm25_tokens(content)), lambda d: F.when(
            F.sqrt(F.size(q).cast("double") * F.size(d).cast("double")) > 0,
            F.size(F.array_intersect(q, d)).cast("double")
            / F.sqrt(F.size(q).cast("double") * F.size(d).cast("double")),
        ).otherwise(F.lit(0.0)),
    ))


def rerank(candidates: DataFrame, queries: DataFrame, docs: DataFrame, k: int = 10,
           score_fn=mock_rerank_score) -> DataFrame:
    """M4 rerank path: hydrate content (J3) → score (query, content)
    pairs → top-k by rerank score (ties: doc_id).

    ``candidates`` = (query_id, doc_id, rank) from first-stage search,
    already clamped to candidate_k(k) rows per query.
    Output: query_id, doc_id, rerank_score, rank.
    """
    # collect the candidate set: it is bounded ≤ |queries|·candidate_k
    # rows by the W3 clamp, so it comes back to the driver and the
    # first-stage lineage runs exactly once (referenced twice, an
    # uncached lineage executes end-to-end twice — counter-proven r10:
    # 45→82 jobs). The query texts join onto it on the driver with the
    # inner join's semantics (a NULL query_id matches nothing), the
    # hits reach Spark as one LocalRelation, and their ids make
    # hydration (J3) a static doc_id IN (…) pushdown on the payload
    # scan whose survivors broadcast into the left join that keeps
    # every hit.
    cand = candidates.select("query_id", "doc_id")
    qs = queries.select("query_id", "query_text")
    def key(qid):  # a binary id collects as an unhashable bytearray
        return bytes(qid) if isinstance(qid, bytearray) else qid

    texts: dict = {}
    for qid, text in qs.collect():
        texts.setdefault(key(qid), []).append(text)
    rows = [(qid, doc, text) for qid, doc in cand.collect() if qid is not None
            for text in texts.get(key(qid), ())]
    hits = local_df(candidates.sparkSession, rows, ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in (*cand.schema, qs.schema[1])))
    wanted = docs.select("doc_id", "text").where(
        F.col("doc_id").isin(sorted({d for _, d, _ in rows if d is not None})))
    with_q = hits.join(F.broadcast(wanted), "doc_id", "left")
    scored = with_q.withColumn("rerank_score", score_fn("query_text", "text"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "rerank_score", "rank")
    )


def search_with_rerank(docs: DataFrame, queries: DataFrame, k: int = 10,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """First-stage hybrid search widened to candidate_k(k) (W3), then
    mock-cross-encoder rerank back down to k — the full reranked query
    path (service.py:349-358 → rerank.py:37-126)."""
    from semantik_spark.operators.search import hybrid_search

    ck = candidate_k(k)
    first = hybrid_search(docs, queries, k=ck, search_k=ck * 2,
                          id_col=id_col, text_col=text_col)
    return rerank(first, queries, docs.select(F.col(id_col).alias("doc_id"),
                                              F.col(text_col).alias("text")), k=k)


def multi_collection_search(collections: dict[str, DataFrame], queries: DataFrame,
                            k: int = 10, search_fn=None) -> DataFrame:
    """J7: run the search per collection, tag rows, union, global top-k
    by score (search_service.py:505-585). ``search_fn(docs, queries,
    k)`` defaults to hybrid_search."""
    from semantik_spark.operators.search import hybrid_search

    fn = search_fn or (lambda d, q, kk: hybrid_search(d, q, k=kk))
    parts = []
    for name, docs in sorted(collections.items()):
        parts.append(
            fn(docs, queries, k).withColumn("collection_id", F.lit(name))
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("collection_id"), F.asc("doc_id")
    )
    return (
        merged.withColumn("merged_rank", F.row_number().over(w))
        .where(F.col("merged_rank") <= k)
        .select("query_id", "collection_id", "doc_id", "score", "merged_rank")
    )

"""DuckDB oracle SQL fragments mirroring the Spark operators.

Every fragment reproduces the corresponding DataFrame operator's math
exactly (same expression shapes, same tie-breaks, portable hash60 /
mock-embedding definitions verified bit-identical across engines), so
the driver's value-hash comparison holds. Float outputs are rounded to
6 decimals on BOTH sides.

Tables are referenced by the driver's pre-registered view names
(region nation customer supplier part orders lineitem events documents
embeddings).
"""

from __future__ import annotations

import re

from semantik_spark.config import BM25_B, BM25_K1, ENGLISH_STOPWORDS, TOKEN_PATTERN

STOPLIST_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"

# ASCII punctuation class — identical meaning in Java regex and RE2
# (Java's \p{Punct} is ASCII-only but RE2's \pP is Unicode, so we spell
# the class out explicitly on both sides).
PUNCT_CLASS = r"!-/:-@\[-`{-~"

SEARCH_QUERIES: list[tuple[str, str]] = [
    ("q1", "fast sort merge join"),
    ("q2", "customer order data stream"),
    ("q3", "window partition batch query"),
    ("q4", "slow filter scan table"),
]

IR_QUERY_TERMS: list[tuple[str, str]] = [
    ("m1", "merge"),
    ("m2", "stream"),
    ("m3", "filter"),
    ("m4", "batch"),
]

PHRASE_QUERIES: list[tuple[str, str]] = [
    ("p1", "table hash"),
    ("p2", "merge order"),
    ("p3", "slow hash batch"),
    ("p4", "stream table hash"),
]

BOOLEAN_QUERIES: list[tuple[str, str, str, str]] = [
    ("b1", "merge join", "fast sort", ""),
    ("b2", "", "stream batch filter", "error"),
    ("b3", "table", "", "slow"),
    ("b4", "customer order", "data", "window"),
]


def queries_values_sql(pairs: list[tuple[str, str]], id_name: str = "query_id",
                       text_name: str = "query_text") -> str:
    rows = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in pairs)
    return f"(SELECT * FROM (VALUES {rows}) AS _q({id_name}, {text_name}))"


# --- BM25 pipeline CTE block (documents table) -----------------------------

def bm25_ctes(doc_table: str = "documents", id_col: str = "doc_id",
              text_col: str = "text", prefix: str = "") -> str:
    """CTE chain: tokd → bstats → terms → tf → post (postings w/ weight).

    Expression shapes match operators/bm25.py exactly:
      idf    = greatest(0, ln((n - df + 0.5)/(df + 0.5) + 1))
      weight = idf * (tf * (k1+1)) / (tf + k1 * (1 - b + b*doc_len/avgdl))

    ``prefix`` renames every CTE (tokd → <p>tokd, …) so one oracle can
    carry TWO independent chains — e.g. the GDPR cascade twin, which
    needs full-corpus postings next to remaining-corpus term stats.
    """
    if prefix:
        body = bm25_ctes(doc_table, id_col, text_col)
        for name in ("tokd", "tokl", "bstats", "terms0", "terms", "tf", "post"):
            body = re.sub(rf"\b{name}\b", f"{prefix}{name}", body)
        return body
    return f"""
tokd AS (
  SELECT {id_col} AS doc_id,
         list_filter(regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM {doc_table}
), tokl AS (
  SELECT doc_id, tokens, len(tokens)::INT AS doc_len FROM tokd
), bstats AS (
  SELECT count(*)::BIGINT AS n_docs, sum(doc_len)::DOUBLE / count(*) AS avgdl FROM tokl
), terms0 AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM tokl)
  GROUP BY term
), terms AS (
  SELECT term, (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id, df,
         greatest(0.0, ln(((SELECT n_docs FROM bstats) - df + 0.5) / (df + 0.5) + 1.0)) AS idf
  FROM terms0
), tf AS (
  SELECT doc_id, doc_len, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, doc_len, unnest(tokens) AS term FROM tokl)
  GROUP BY doc_id, doc_len, term
), post AS (
  SELECT tf.doc_id, tf.term, terms.term_id, tf.tf,
         terms.idf * (tf.tf * {BM25_K1 + 1.0}) /
           (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.doc_len / (SELECT avgdl FROM bstats))) AS weight
  FROM tf JOIN terms USING (term)
  WHERE terms.idf * (tf.tf * {BM25_K1 + 1.0}) /
          (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.doc_len / (SELECT avgdl FROM bstats))) > 0
)"""


def bm25_search_ctes(query_pairs: list[tuple[str, str]], k: int,
                     post_table: str = "post", extra_ctes: str = "") -> str:
    """Extends bm25_ctes with query encoding + top-k ranking:
    adds qtok → qtf → qenc → scored → ranked(query_id, doc_id, score, rank).
    ``extra_ctes`` (appended after post) may define a derived postings
    table and name it via ``post_table`` — the pruned-index twin."""
    return f"""{bm25_ctes()},{extra_ctes}
qsrc AS (SELECT * FROM {queries_values_sql(query_pairs)}),
qtok AS (
  SELECT query_id,
         list_filter(regexp_extract_all(lower(query_text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM qsrc
), qtf AS (
  SELECT query_id, term, count(*)::BIGINT AS tf_q
  FROM (SELECT query_id, unnest(tokens) AS term FROM qtok)
  GROUP BY query_id, term
), qenc AS (
  SELECT qtf.query_id, qtf.term, qtf.tf_q * terms.idf AS q_weight
  FROM qtf JOIN terms USING (term)
  WHERE terms.idf > 0
), scored AS (
  SELECT qenc.query_id, p.doc_id, sum(p.weight * qenc.q_weight) AS score
  FROM {post_table} p JOIN qenc USING (term)
  GROUP BY qenc.query_id, p.doc_id
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)"""


# --- mock dense search -----------------------------------------------------

def mock_embed_expr(expr: str) -> str:
    """8-dim reference mock embedding of a string expression (verified
    bit-identical to functions.vectors.mock_embedding)."""
    raw = (
        f"[(('0x'||substr(sha256(cast({expr} as varchar)), i*8+1, 8))::bigint"
        " / 4294967296.0)*2.0-1.0 for i in range(0, 8)]"
    )
    return raw


def cosine_expr(a: str, b: str) -> str:
    """dot/(norm*norm) with the same guard as functions.vectors.cosine."""
    return (
        f"CASE WHEN sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})) > 0 "
        f"THEN list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) ELSE 0.0 END"
    )


def mock_dense_ctes(query_pairs: list[tuple[str, str]], k: int) -> str:
    """CTEs: dindex (mock doc embeddings) × dquer → dscored → dranked."""
    return f"""
dindex AS (
  SELECT doc_id, {mock_embed_expr('text')} AS e FROM documents
), dquer AS (
  SELECT query_id, {mock_embed_expr('query_text')} AS qe
  FROM {queries_values_sql(query_pairs)}
), dscored AS (
  SELECT query_id, doc_id, {cosine_expr('e', 'qe')} AS score
  FROM dindex CROSS JOIN dquer
), dranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM dscored
)"""


# --- shingles / minhash / simhash ------------------------------------------

def hash60_expr(expr: str) -> str:
    return f"(('0x'||substr(md5(cast({expr} as varchar)),1,15))::bigint)"


def shingle_ctes(doc_table_cte: str = "documents", n: int = 3) -> str:
    """wtok → sh (doc_id, n_shingles, shingle exploded distinct n-gram
    word shingles) — mirrors functions.text.word_shingles +
    operators.dedup.shingle_sets."""
    return f"""
wtok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0) AS toks
  FROM {doc_table_cte}
), shl AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {n}
              THEN list_distinct([array_to_string(toks[i+1:i+{n}], ' ')
                                  for i in range(0, greatest(len(toks)-{n}, 0)+1)])
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM wtok
), sh AS (
  SELECT doc_id, len(shingles)::INT AS n_shingles, unnest(shingles) AS shingle FROM shl
)"""


AUGMENTED_DOCS_CTE = """
aug_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)"""

AUGMENTED_EMB_CTE = """
aug_emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 50 = 0
)"""


# --- composed oracle queries ----------------------------------------------

def q_bm25_corpus_stats() -> str:
    return f"WITH {bm25_ctes()} SELECT n_docs, round(avgdl, 6) AS avgdl FROM bstats"


def q_bm25_term_stats() -> str:
    return (
        f"WITH {bm25_ctes()} "
        "SELECT term, term_id, df, round(idf, 6) AS idf FROM terms"
    )


def q_bm25_stats_merge() -> str:
    """Whole-corpus term stats + corpus stats in one pass — the twin of
    the Spark side's half-corpus-state ⊕ delta merge (bm25
    merge_corpus_state / merge_term_state / term_stats_from_state):
    equality proves merge == recompute at driver-hash level."""
    return (
        f"WITH {bm25_ctes()} "
        "SELECT term, term_id, df, round(idf, 6) AS idf, "
        "       (SELECT n_docs FROM bstats) AS n_docs, "
        "       (SELECT round(avgdl, 6) FROM bstats) AS avgdl "
        "FROM terms"
    )


def q_gdpr_delete_cascade(del_pred: str = "doc_id % 7 = 3") -> str:
    """Twin of serving.delete_from_index (the GDPR erasure cascade):

    - terms/ is rebuilt from the RETRACTED mergeable state, which is
      contract-pinned equal to a recompute over the remaining corpus —
      so the twin recomputes term stats over documents minus the
      deleted set (the ``r_``-prefixed chain);
    - postings/ and dense/ are anti-join rewrites of the ORIGINAL
      full-corpus artifacts (kept rows retain index-time weights), so
      their surviving row counts come from the unprefixed full-corpus
      chain filtered by the deletion predicate;
    - tombstones/ is the deleted id set.
    """
    return (
        f"WITH remaining AS (SELECT doc_id, text FROM documents WHERE NOT ({del_pred})), "
        f"{bm25_ctes()[1:]}, {bm25_ctes('remaining', prefix='r_')[1:]} "
        "SELECT term, term_id, df, round(idf, 6) AS idf, "
        "       (SELECT n_docs FROM r_bstats) AS n_docs, "
        "       (SELECT round(avgdl, 6) FROM r_bstats) AS avgdl, "
        f"      (SELECT count(*) FROM remaining)::BIGINT AS dense_rows, "
        f"      (SELECT count(*) FROM post WHERE NOT ({del_pred}))::BIGINT AS postings_rows, "
        f"      (SELECT count(DISTINCT doc_id) FROM documents WHERE {del_pred})::BIGINT AS tombstone_rows "
        "FROM r_terms"
    )


def q_gdpr_sync_replay(del_pred: str = "doc_id % 7 = 3",
                       tomb_pred: str = "doc_id % 3 < 2 AND doc_id % 7 = 3"
                       ) -> str:
    """Twin of the COMPOSED erasure story (VERDICT r8 item 6): the
    full-cascade GDPR delete (dense + postings + terms + tombstones)
    arriving *between* incremental appends. The state algebra contract
    makes the twin one recompute over the surviving corpus, exactly as
    in q_gdpr_delete_cascade — except tombstones only hold ids that
    were INDEXED when the request landed (``tomb_pred``); later batches
    pre-drop suppressed ids, so those never enter any artifact."""
    return (
        f"WITH remaining AS (SELECT doc_id, text FROM documents WHERE NOT ({del_pred})), "
        f"{bm25_ctes()[1:]}, {bm25_ctes('remaining', prefix='r_')[1:]} "
        "SELECT term, term_id, df, round(idf, 6) AS idf, "
        "       (SELECT n_docs FROM r_bstats) AS n_docs, "
        "       (SELECT round(avgdl, 6) FROM r_bstats) AS avgdl, "
        f"      (SELECT count(*) FROM remaining)::BIGINT AS dense_rows, "
        f"      (SELECT count(*) FROM post WHERE NOT ({del_pred}))::BIGINT AS postings_rows, "
        f"      (SELECT count(DISTINCT doc_id) FROM documents WHERE {tomb_pred})::BIGINT AS tombstone_rows "
        "FROM r_terms"
    )


def q_bm25_append_delete_replay(splits: int = 4, del_pred: str = "doc_id % 5 = 2") -> str:
    """Twin of the production sparse sync loop (VERDICT r7 item 9): the
    corpus arrives as ``splits`` hash-sliced APPEND batches with a GDPR
    delete interleaved mid-stream; the Spark side folds each step into
    the mergeable (n_docs, sum_dl) / (term, df) state. The contract —
    state algebra is an abelian group, so any interleaving of merges
    and retractions equals one recompute over the surviving corpus —
    makes the twin a single full recompute over documents minus the
    deleted set."""
    return (
        f"WITH surviving AS (SELECT doc_id, text FROM documents WHERE NOT ({del_pred})), "
        f"{bm25_ctes('surviving')[1:]} "
        "SELECT term, term_id, df, round(idf, 6) AS idf, "
        "       (SELECT n_docs FROM bstats) AS n_docs, "
        "       (SELECT round(avgdl, 6) FROM bstats) AS avgdl "
        "FROM terms"
    )


def q_bm25_postings() -> str:
    return (
        f"WITH {bm25_ctes()} "
        "SELECT doc_id, term, tf, round(weight, 6) AS weight FROM post"
    )


def q_bm25_search(k: int = 10) -> str:
    return (
        f"WITH {bm25_search_ctes(SEARCH_QUERIES, k)} "
        f"SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )


def q_bm25_rocchio_search(k: int = 10, fb_docs: int = 5,
                          fb_terms: int = 8, beta_milli: int = 400) -> str:
    """Twin of bm25.rocchio_search (pseudo-relevance feedback): pass-1
    top-fb_docs, expansion = top-fb_terms by summed BM25 impact over
    the feedback docs (original query terms anti-joined out; rank key
    micro-quantized, term tiebreak), pass-2 scores the original
    encoding unioned with beta-scaled expansion weights."""
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, fb_docs)},
fb AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {fb_docs}),
fbw AS (
  SELECT fb.query_id, p.term, sum(p.weight) AS w_fb
  FROM fb JOIN post p USING (doc_id)
  GROUP BY fb.query_id, p.term
),
expn AS (
  SELECT query_id, term, w_fb FROM (
    SELECT f.query_id, f.term, f.w_fb,
           row_number() OVER (PARTITION BY f.query_id
                              ORDER BY floor(f.w_fb * 1e6 + 0.5) DESC,
                                       f.term ASC) AS rn
    FROM fbw f
    WHERE NOT EXISTS (SELECT 1 FROM qenc q
                      WHERE q.query_id = f.query_id AND q.term = f.term)
  ) s WHERE rn <= {fb_terms}
),
qenc2 AS (
  SELECT query_id, term, q_weight FROM qenc
  UNION ALL
  SELECT query_id, term,
         {beta_milli}::DOUBLE / 1000.0 * w_fb / {float(fb_docs)!r} AS q_weight
  FROM expn
),
scored2 AS (
  SELECT q.query_id, p.doc_id, sum(p.weight * q.q_weight) AS score
  FROM post p JOIN qenc2 q USING (term)
  GROUP BY q.query_id, p.doc_id
),
ranked2 AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored2
)
SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank
FROM ranked2 WHERE rank <= {k}"""


def q_lm_dirichlet_search(k: int = 10, mu: float = 300.0) -> str:
    """Twin of bm25.lm_dirichlet_search (query likelihood, Dirichlet
    smoothing, Zhai & Lafferty 2001): overlap term
    Σ tf_q·ln(1 + tf_d/(µ·cf/|C|)) plus the per-doc length prior
    |q|·ln(µ/(dl+µ)); zero-overlap docs excluded."""
    m = repr(float(mu))
    return f"""
WITH {bm25_ctes()},
coll AS (SELECT sum(doc_len)::DOUBLE AS t_tokens FROM tokl),
cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
qsrc AS (SELECT * FROM {queries_values_sql(SEARCH_QUERIES)}),
qtok AS (
  SELECT query_id,
         list_filter(regexp_extract_all(lower(query_text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM qsrc
),
qtf AS (
  SELECT query_id, term, count(*)::BIGINT AS tf_q
  FROM (SELECT query_id, unnest(tokens) AS term FROM qtok)
  GROUP BY query_id, term
),
qlen AS (SELECT query_id, sum(tf_q)::BIGINT AS qlen FROM qtf
         WHERE term IN (SELECT term FROM cf) GROUP BY 1),
ov AS (
  SELECT q.query_id, tf.doc_id, tf.doc_len,
         sum(q.tf_q * ln(1.0 + tf.tf / ({m} * (cf.cf / (SELECT t_tokens FROM coll))))) AS s_match
  FROM tf JOIN qtf q USING (term) JOIN cf USING (term)
  GROUP BY 1, 2, 3
),
lmsc AS (
  SELECT ov.query_id, ov.doc_id,
         ov.s_match + ql.qlen * ln({m} / (ov.doc_len + {m})) AS score
  FROM ov JOIN qlen ql USING (query_id)
),
lmranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM lmsc
)
SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank
FROM lmranked WHERE rank <= {k}"""


def q_bm25_pruned_search(k: int = 10, keep: int = 32) -> str:
    """Twin of bm25.pruned_search: statically pruned postings (per-term
    top-``keep`` by impact weight, doc_id tiebreak) scored with the
    standard pipeline."""
    extra = f"""
pruned AS (
  SELECT doc_id, term, term_id, tf, weight FROM (
    SELECT post.*,
           row_number() OVER (PARTITION BY term
                              ORDER BY weight DESC, doc_id ASC) AS pr
    FROM post) s
  WHERE pr <= {keep}
),"""
    return (
        f"WITH {bm25_search_ctes(SEARCH_QUERIES, k, post_table='pruned', extra_ctes=extra)} "
        f"SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank "
        f"FROM ranked WHERE rank <= {k}"
    )


def q_mmr_rerank(k_pool: int = 16, k_out: int = 8,
                 lambda_milli: int = 500) -> str:
    """Twin of search.mmr_diversify over the BM25 top-``k_pool`` pool
    with mock-embedding redundancy: the greedy MMR trajectory unrolled
    ``k_out`` steps, each step an anti-join + max-sim + micro-quantized
    argmax (doc_id tiebreak) — every CTE MATERIALIZED (referenced
    downstream repeatedly; DuckDB would inline exponentially)."""
    lam = f"({lambda_milli}::DOUBLE / 1000.0)"
    steps = []
    for t in range(2, k_out + 1):
        steps.append(f""",
p{t} AS MATERIALIZED (
  SELECT c.query_id, c.doc_id, c.rel FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM selu{t - 1} s
                    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)),
m{t} AS MATERIALIZED (
  SELECT p.query_id, p.doc_id, p.rel, max(sm.sim) AS msim
  FROM p{t} p
  JOIN sims sm ON sm.query_id = p.query_id AND sm.da = p.doc_id
  JOIN selu{t - 1} s ON s.query_id = sm.query_id AND s.doc_id = sm.db
  GROUP BY p.query_id, p.doc_id, p.rel),
s{t} AS MATERIALIZED (
  SELECT query_id, doc_id, mmr_micro, {t} AS mmr_rank FROM (
    SELECT query_id, doc_id,
           floor(({lam} * rel - (1.0 - {lam}) * msim) * 1e6 + 0.5)::BIGINT AS mmr_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY floor(({lam} * rel - (1.0 - {lam}) * msim) * 1e6 + 0.5) DESC,
                                       doc_id ASC) AS rn
    FROM m{t}) z WHERE rn = 1),
selu{t} AS MATERIALIZED (
  SELECT query_id, doc_id FROM selu{t - 1}
  UNION ALL SELECT query_id, doc_id FROM s{t})""")
    union = " UNION ALL ".join(
        f"SELECT query_id, doc_id, mmr_micro, mmr_rank FROM s{t}"
        for t in range(1, k_out + 1))
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, k_pool)},
cand AS MATERIALIZED (
  SELECT r.query_id, r.doc_id, r.score AS rel, {mock_embed_expr('d.text')} AS e
  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
  WHERE r.rank <= {k_pool}),
sims AS MATERIALIZED (
  SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
         {cosine_expr("a.e", "b.e")} AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
s1 AS MATERIALIZED (
  SELECT query_id, doc_id, mmr_micro, 1 AS mmr_rank FROM (
    SELECT query_id, doc_id,
           floor({lam} * rel * 1e6 + 0.5)::BIGINT AS mmr_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY floor({lam} * rel * 1e6 + 0.5) DESC,
                                       doc_id ASC) AS rn
    FROM cand) z WHERE rn = 1),
selu1 AS MATERIALIZED (SELECT query_id, doc_id FROM s1){''.join(steps)}
SELECT * FROM ({union}) u"""


def q_search_snippets(k: int = 5, window_tokens: int = 12) -> str:
    """Twin of search.best_window_snippets: hit-anchored best-coverage
    window over the retrieved docs' token streams, argmax on
    (distinct terms DESC, hits DESC, start ASC), snippet from the
    tokenizer's own stream."""
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, k)},
topd AS MATERIALIZED (
  SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {k}),
dtok AS MATERIALIZED (
  SELECT doc_id, tokens FROM tokl
  WHERE doc_id IN (SELECT DISTINCT doc_id FROM topd)),
pos AS MATERIALIZED (
  SELECT doc_id, unnest(range(0, len(tokens))) AS p,
         unnest(tokens) AS term
  FROM dtok),
qdist AS MATERIALIZED (
  SELECT DISTINCT query_id, unnest(tokens) AS term FROM qtok),
hits AS MATERIALIZED (
  SELECT t.query_id, t.doc_id, t.rank, p.p, p.term
  FROM topd t JOIN pos p USING (doc_id)
  WHERE EXISTS (SELECT 1 FROM qdist q
                WHERE q.query_id = t.query_id AND q.term = p.term)),
wins AS MATERIALIZED (
  SELECT a.query_id, a.doc_id, a.rank, a.p AS start,
         count(DISTINCT b.term)::INT AS n_terms, count(*)::INT AS n_hits
  FROM hits a JOIN hits b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
   AND b.p >= a.p AND b.p < a.p + {window_tokens}
  GROUP BY a.query_id, a.doc_id, a.rank, a.p),
best AS (
  SELECT query_id, doc_id, rank, start, n_terms, n_hits FROM (
    SELECT w.*, row_number() OVER (
      PARTITION BY query_id, doc_id
      ORDER BY n_terms DESC, n_hits DESC, start ASC) AS rn
    FROM wins w) z WHERE rn = 1)
SELECT b.query_id, b.doc_id, b.rank::INT AS rank,
       b.start::INT AS snippet_start, b.n_terms, b.n_hits,
       array_to_string(d.tokens[b.start + 1 : b.start + {window_tokens}], ' ') AS snippet
FROM best b JOIN dtok d USING (doc_id)"""


def q_dense_mock_search(k: int = 10) -> str:
    return (
        f"WITH {mock_dense_ctes(SEARCH_QUERIES, k)} "
        f"SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank "
        f"FROM dranked WHERE rank <= {k}"
    )


def q_hybrid_rrf(k: int = 10, search_k: int = 20, rrf_k: int = 60) -> str:
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, search_k)},
{mock_dense_ctes(SEARCH_QUERIES, search_k).lstrip()},
dtop AS (SELECT query_id, doc_id, score AS dense_score, rank AS dense_rank
         FROM dranked WHERE rank <= {search_k}),
stop_ AS (SELECT query_id, doc_id, score AS sparse_score, rank AS sparse_rank
          FROM ranked WHERE rank <= {search_k}),
fused AS (
  SELECT query_id, doc_id,
         coalesce(1.0 / ({rrf_k} + dense_rank), 0.0) + coalesce(1.0 / ({rrf_k} + sparse_rank), 0.0) AS score,
         dense_rank, sparse_rank, dense_score, sparse_score
  FROM dtop FULL OUTER JOIN stop_ USING (query_id, doc_id)
),
franked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank,
       dense_rank::INT AS dense_rank, sparse_rank::INT AS sparse_rank,
       round(dense_score, 6) AS dense_score, round(sparse_score, 6) AS sparse_score
FROM franked WHERE rank <= {k}"""


def hybrid_rrf_ctes(query_pairs: list[tuple[str, str]], search_k: int, rrf_k: int = 60) -> str:
    """Full hybrid CTE chain ending in franked(query_id, doc_id, score,
    rank, dense/sparse diagnostics)."""
    return f"""{bm25_search_ctes(query_pairs, search_k)},
{mock_dense_ctes(query_pairs, search_k).lstrip()},
dtop AS (SELECT query_id, doc_id, score AS dense_score, rank AS dense_rank
         FROM dranked WHERE rank <= {search_k}),
stop_ AS (SELECT query_id, doc_id, score AS sparse_score, rank AS sparse_rank
          FROM ranked WHERE rank <= {search_k}),
fused AS (
  SELECT query_id, doc_id,
         coalesce(1.0 / ({rrf_k} + dense_rank), 0.0) + coalesce(1.0 / ({rrf_k} + sparse_rank), 0.0) AS score,
         dense_rank, sparse_rank, dense_score, sparse_score
  FROM dtop FULL OUTER JOIN stop_ USING (query_id, doc_id)
),
franked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)"""


def q_rerank_search(k: int = 10) -> str:
    """search_with_rerank oracle: hybrid first stage at candidate_k(k)
    (clamp(k*5,20,200)), then token-set-cosine rerank to k."""
    ck = max(20, min(200, k * 5))
    return f"""
WITH {hybrid_rrf_ctes(SEARCH_QUERIES, ck * 2)},
cand AS (SELECT query_id, doc_id FROM franked WHERE rank <= {ck}),
qts AS (SELECT query_id, list_distinct(tokens) AS qt FROM qtok),
dts AS (SELECT doc_id, list_distinct(tokens) AS dt FROM tokl),
rr AS (
  SELECT c.query_id, c.doc_id,
         CASE WHEN sqrt(len(qt)::DOUBLE * len(dt)) > 0
              THEN len(list_intersect(qt, dt))::DOUBLE / sqrt(len(qt)::DOUBLE * len(dt))
              ELSE 0.0 END AS rerank_score
  FROM cand c JOIN qts USING (query_id) JOIN dts USING (doc_id)
),
rrk AS (
  SELECT query_id, doc_id, rerank_score,
         row_number() OVER (PARTITION BY query_id ORDER BY rerank_score DESC, doc_id ASC) AS rank
  FROM rr
)
SELECT query_id, doc_id, round(rerank_score, 6) AS rerank_score, rank::INT AS rank
FROM rrk WHERE rank <= {k}"""


def q_multi_collection_dense(k: int = 10) -> str:
    """multi_collection_search oracle with mock-dense per-collection
    search; collections = even/odd doc_id split of documents."""
    return f"""
WITH di AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'colA' ELSE 'colB' END AS collection_id,
         {mock_embed_expr('text')} AS e
  FROM documents
),
dq AS (
  SELECT query_id, {mock_embed_expr('query_text')} AS qe
  FROM {queries_values_sql(SEARCH_QUERIES)}
),
scored AS (
  SELECT query_id, collection_id, doc_id, {cosine_expr('e', 'qe')} AS score
  FROM di CROSS JOIN dq
),
per_col AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, collection_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
merged AS (
  SELECT query_id, collection_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, collection_id ASC, doc_id ASC) AS merged_rank
  FROM per_col WHERE rank <= {k}
)
SELECT query_id, collection_id, doc_id, round(score, 6) AS score, merged_rank::INT AS merged_rank
FROM merged WHERE merged_rank <= {k}"""


def fixed_chunk_ctes(chunk_size: int = 200, overlap: int = 50) -> str:
    """CTE chain ending in fchunks(doc_id, chunk_id, chunk_index, content,
    start_offset, end_offset) — mirrors operators.chunking.fixed_chunks."""
    stride = chunk_size - overlap
    return f"""
cstarts AS (
  SELECT doc_id::VARCHAR AS doc_id, length(text)::INT AS doc_len, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), {stride})) AS start_offset
  FROM documents
),
fchunks AS (
  SELECT doc_id,
         doc_id || '#' || (start_offset // {stride})::INT AS chunk_id,
         (start_offset // {stride})::INT AS chunk_index,
         substr(text, start_offset + 1, {chunk_size}) AS content,
         start_offset::INT AS start_offset,
         least(start_offset + {chunk_size}, doc_len)::INT AS end_offset
  FROM cstarts
  -- drop_contained_tail (default since r11): a start past 0 whose
  -- chunk ends within the previous chunk's coverage adds no content
  WHERE start_offset = 0
     OR start_offset + {overlap} < least(start_offset + {chunk_size}, doc_len)
)"""


def _snap_step(tbl: str, start: str, chunk_size: int, window: int = 50) -> str:
    """LATERAL chain computing the snapped end_offset for the chunk of
    ``tbl`` starting at ``start`` — the SQL replay of
    chunking._find_boundary: raw_end = min(start+size, n); last sentence
    end (". ", "! ", "? ", "\\n") within ``window`` chars back (else last
    word boundary, else hard cut). rfind is expressed as
    position(reverse(mark) IN reverse(window_text))."""
    marks = [("' .'", 2), ("' !'", 2), ("' ?'", 2), ("chr(10)", 1)]
    cand = ", ".join(
        f"CASE WHEN position({rev} IN rs.rsub) > 0 "
        f"THEN r.raw_end - position({rev} IN rs.rsub) + 1 ELSE -1 END"
        for rev, _ in marks
    )
    return f"""
       LATERAL (SELECT least({start} + {chunk_size}, {tbl}.n) AS raw_end) r,
       LATERAL (SELECT greatest(0, r.raw_end - {window}) AS lo) l,
       LATERAL (SELECT reverse(substr({tbl}.text, l.lo + 1, r.raw_end - l.lo)) AS rsub) rs,
       LATERAL (SELECT greatest({cand}) AS best) b,
       LATERAL (SELECT CASE WHEN position(' ' IN rs.rsub) > 0
                            THEN r.raw_end - position(' ' IN rs.rsub) ELSE -1 END AS wi) wp,
       LATERAL (SELECT CASE WHEN r.raw_end >= {tbl}.n THEN r.raw_end
                            WHEN b.best > l.lo THEN b.best
                            WHEN wp.wi > l.lo THEN wp.wi + 1
                            ELSE r.raw_end END AS bnd) bb,
       LATERAL (SELECT CASE WHEN bb.bnd <= {start} THEN r.raw_end ELSE bb.bnd END AS end_offset) e"""


def q_chunk_character(chunk_size: int = 200, overlap: int = 50,
                      window: int = 50) -> str:
    """K1 character chunking oracle: a recursive CTE replays the
    boundary-snapping loop of chunking.character_chunk_doc exactly —
    each step snaps via _snap_step, emits the chunk, and advances to
    max(end - overlap, start + 1)."""

    def step(tbl: str, start: str) -> str:
        return _snap_step(tbl, start, chunk_size, window)

    return f"""
WITH RECURSIVE cbase AS (
  SELECT doc_id::VARCHAR AS doc_id, text, length(text)::INT AS n
  FROM documents WHERE length(text) > 0
),
cch AS (
  SELECT cbase.doc_id, cbase.text, cbase.n, 0::INT AS start_offset,
         e.end_offset::INT AS end_offset, 0::INT AS chunk_index
  FROM cbase,{step('cbase', '0')}
  UNION ALL
  SELECT cch.doc_id, cch.text, cch.n, s.ns::INT, e.end_offset::INT, cch.chunk_index + 1
  FROM cch,
       LATERAL (SELECT greatest(cch.end_offset - {overlap}, cch.start_offset + 1) AS ns) s,{step('cch', 's.ns')}
  WHERE cch.end_offset < cch.n
)
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index,
       substr(text, start_offset + 1, end_offset - start_offset) AS content,
       start_offset, end_offset,
       ((end_offset - start_offset + 3) // 4)::INT AS token_count,
       (count(*) OVER (PARTITION BY doc_id))::INT AS total_chunks
FROM cch"""


def recursive_split_ctes(base: str, chunk_size: int,
                         keys: tuple[str, ...] = ("doc_id",),
                         p: str = "r") -> str:
    """CTE chain replaying chunking.recursive_chunk_spans over ``base``
    ({keys...}, text, off, len): unrolled separator-level CTEs (split
    only over-budget pieces, separator attached left) + hard slice + a
    recursive greedy-merge fold. Ends in {p}final({keys...}, text,
    chunk_no, cs, cl) — one row per final span. Inputs with len <=
    chunk_size pass through as a single span, matching the kernel."""
    kl = ", ".join(keys)
    sep_sql = [
        ("chr(10)||chr(10)||chr(10)", 3), ("chr(10)||chr(10)", 2), ("chr(10)", 1),
        ("\'. \'", 2), ("\'! \'", 2), ("\'? \'", 2), ("\'; \'", 2), ("\', \'", 2), ("\' \'", 1),
    ]
    lvls = []
    for k, (s, slen) in enumerate(sep_sql):
        prev = f"{p}l{k - 1}" if k else base
        lvls.append(f"""{p}s{k} AS MATERIALIZED (
  SELECT {kl}, text, off, len,
         CASE WHEN len > {chunk_size}
              THEN string_split(substr(text, off + 1, len), {s}) END AS parts
  FROM {prev}),
{p}l{k} AS (
  SELECT {kl}, text, off, len FROM {p}s{k} WHERE parts IS NULL OR len(parts) = 1
  UNION ALL
  SELECT {kl}, text, off, len FROM (
    SELECT {kl}, text,
           poff + sum(fl) OVER (PARTITION BY {kl}, poff ORDER BY j) - fl AS off,
           fl AS len
    FROM (
      SELECT {kl}, text, off AS poff,
             unnest(parts) AS part, unnest(range(1, len(parts) + 1)) AS j,
             len(parts) AS np
      FROM {p}s{k} WHERE parts IS NOT NULL AND len(parts) > 1
    ), LATERAL (SELECT length(part) + CASE WHEN j < np THEN {slen} ELSE 0 END AS fl)
  ) WHERE len > 0
)""")
        last = f"{p}l{len(sep_sql) - 1}"
    levels = ",\n".join(lvls)
    on = " AND ".join(f"a.{c} = {p}m.{c}" for c in keys)
    akeys = ", ".join(f"a.{c}" for c in keys)
    return f"""{levels},
{p}atoms0 AS (
  SELECT {kl}, text, off, len FROM {last} WHERE len <= {chunk_size}
  UNION ALL
  SELECT {kl}, text, off + i AS off, least({chunk_size}, len - i) AS len
  FROM {last}, LATERAL (SELECT unnest(range(0, len, {chunk_size})) AS i)
  WHERE len > {chunk_size}
),
{p}atoms AS MATERIALIZED (
  SELECT {kl}, text, off, len,
         row_number() OVER (PARTITION BY {kl} ORDER BY off) AS idx
  FROM {p}atoms0
),
{p}m AS (
  SELECT {kl}, text, idx, 0::BIGINT AS chunk_no, off AS cs, len AS cl
  FROM {p}atoms WHERE idx = 1
  UNION ALL
  SELECT {akeys}, a.text, a.idx,
         CASE WHEN {p}m.cl + a.len <= {chunk_size} THEN {p}m.chunk_no ELSE {p}m.chunk_no + 1 END,
         CASE WHEN {p}m.cl + a.len <= {chunk_size} THEN {p}m.cs ELSE a.off END,
         CASE WHEN {p}m.cl + a.len <= {chunk_size} THEN {p}m.cl + a.len ELSE a.len END
  FROM {p}m JOIN {p}atoms a ON {on} AND a.idx = {p}m.idx + 1
),
{p}fin0 AS (
  SELECT {kl}, text, chunk_no, cs, cl,
         row_number() OVER (PARTITION BY {kl}, chunk_no ORDER BY idx DESC) AS rn
  FROM {p}m
),
{p}final AS (
  SELECT {kl}, text, chunk_no, cs, cl FROM {p}fin0 WHERE rn = 1
)"""


def q_chunk_recursive(chunk_size: int = 200) -> str:
    """K2 recursive chunking oracle — see recursive_split_ctes."""
    return f"""
WITH RECURSIVE rbase AS (
  SELECT doc_id::VARCHAR AS doc_id, text, 0::BIGINT AS off, length(text)::BIGINT AS len
  FROM documents WHERE length(text) > 0
),
{recursive_split_ctes('rbase', chunk_size)}
SELECT doc_id, doc_id || \'#\' || chunk_no::INT AS chunk_id, chunk_no::INT AS chunk_index,
       substr(text, cs + 1, cl) AS content,
       ((cl + 3) // 4)::INT AS token_count,
       (count(*) OVER (PARTITION BY doc_id))::INT AS total_chunks
FROM rfinal"""


def markdown_chunk_ctes(base: str, chunk_size: int, p: str = "md") -> str:
    """CTE chain replaying chunking.markdown_chunk_doc over ``base``
    (doc_id, text): line split, ATX header detection (lstrip, 1-6 '#'s,
    non-empty title), a recursive breadcrumb-stack fold
    (crumbs[:level-1] + [title]), section assembly (body = lines between
    consecutive valid headers, flushed with the stack BEFORE the
    header), '[crumb]\\n'-prefixed blocks, a greedy packing fold, and
    the recursive-split fallback for over-budget buffers. Ends in
    {p}chunks(doc_id, chunk_index, content)."""
    B = chunk_size
    split = recursive_split_ctes(f"{p}eb", B, keys=("doc_id", "emit_no"), p=f"{p}r")
    return f"""
{p}lines AS MATERIALIZED (
  SELECT doc_id, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS ln
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {base})
),
{p}h AS (
  SELECT doc_id, ln, level, title,
         row_number() OVER (PARTITION BY doc_id ORDER BY ln) AS hno
  FROM (
    SELECT doc_id, ln, lv.level, t.title
    FROM {p}lines,
         LATERAL (SELECT ltrim(line, {_PYWS}) AS stripped) s,
         LATERAL (SELECT length(s.stripped) - length(ltrim(s.stripped, '#')) AS level) lv,
         LATERAL (SELECT trim(substr(s.stripped, lv.level + 1), {_PYWS}) AS title) t
    WHERE lv.level BETWEEN 1 AND 6 AND t.title <> ''
  )
),
{p}stack AS (
  SELECT doc_id, 0::BIGINT AS hno, []::VARCHAR[] AS crumbs, 0::BIGINT AS hln
  FROM {base}
  UNION ALL
  SELECT h.doc_id, h.hno, list_slice(st.crumbs, 1, h.level - 1) || [h.title], h.ln
  FROM {p}stack st JOIN {p}h h ON h.doc_id = st.doc_id AND h.hno = st.hno + 1
),
{p}sec AS (
  SELECT st.doc_id, st.hno + 1 AS k, st.crumbs, st.hln AS lo, h.ln AS hi
  FROM {p}stack st
  LEFT JOIN {p}h h ON h.doc_id = st.doc_id AND h.hno = st.hno + 1
),
{p}body AS (
  SELECT s.doc_id, s.k, any_value(s.crumbs) AS crumbs, count(l.ln) AS nlines,
         coalesce(string_agg(l.line, chr(10) ORDER BY l.ln), '') AS body
  FROM {p}sec s LEFT JOIN {p}lines l
    ON l.doc_id = s.doc_id AND l.ln > s.lo AND (s.hi IS NULL OR l.ln < s.hi)
  GROUP BY s.doc_id, s.k
),
{p}blk AS (
  SELECT doc_id, k,
         trim(CASE WHEN c.crumb <> '' THEN '[' || c.crumb || ']' || chr(10) || body
                   ELSE body END, {_PYWS}) AS block
  FROM {p}body, LATERAL (SELECT array_to_string(crumbs, ' > ') AS crumb) c
  WHERE len(crumbs) > 0 OR nlines > 0
),
{p}blkf AS (
  SELECT doc_id, block, row_number() OVER (PARTITION BY doc_id ORDER BY k) AS bidx
  FROM {p}blk WHERE block <> ''
),
{p}bmax AS (SELECT doc_id, max(bidx) AS mb FROM {p}blkf GROUP BY doc_id),
{p}pf AS (
  SELECT doc_id, bidx, block AS buf, NULL::VARCHAR AS emitted
  FROM {p}blkf WHERE bidx = 1
  UNION ALL
  SELECT b.doc_id, b.bidx,
         CASE WHEN fl.flush THEN b.block ELSE f.buf || chr(10) || b.block END,
         CASE WHEN fl.flush THEN f.buf END
  FROM {p}pf f JOIN {p}blkf b ON b.doc_id = f.doc_id AND b.bidx = f.bidx + 1,
       LATERAL (SELECT length(f.buf) + length(b.block) + 1 > {B} AS flush) fl
),
{p}emit AS (
  SELECT doc_id, emitted AS buf, bidx * 2 AS ord FROM {p}pf WHERE emitted IS NOT NULL
  UNION ALL
  SELECT f.doc_id, f.buf, (f.bidx + 1) * 2
  FROM {p}pf f JOIN {p}bmax x ON x.doc_id = f.doc_id AND f.bidx = x.mb
),
{p}eb AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS emit_no,
         buf AS text, 0::BIGINT AS off, length(buf)::BIGINT AS len
  FROM {p}emit
),
{split},
{p}chunks AS (
  SELECT doc_id,
         (row_number() OVER (PARTITION BY doc_id ORDER BY emit_no, chunk_no) - 1)::INT AS chunk_index,
         substr(text, cs + 1, cl) AS content,
         cl AS clen
  FROM {p}rfinal
)"""


def q_chunk_markdown(chunk_size: int = 400) -> str:
    """K3 markdown chunking oracle — see markdown_chunk_ctes."""
    return f"""
WITH RECURSIVE mdbase AS (
  SELECT doc_id::VARCHAR AS doc_id, text FROM documents WHERE length(text) > 0
),
{markdown_chunk_ctes('mdbase', chunk_size).lstrip()}
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index, content,
       ((clen + 3) // 4)::INT AS token_count,
       (count(*) OVER (PARTITION BY doc_id))::INT AS total_chunks
FROM mdchunks"""


def q_chunk_hierarchical(chunk_size: int = 400, window: int = 50) -> str:
    """K5 hierarchical chunking oracle (levels=2): replays
    chunking.hierarchical_chunk_doc — level-0 parents are
    character_chunk_doc(text, chunk_size, overlap=0) (with overlap=0 the
    advance is simply start=end, so the recursion carries end_offset
    straight through); level-1 children re-chunk each parent's substring
    at max(200, chunk_size//2) with overlap=0. Child chunk_index
    continues globally from the parent count, in (parent, child) order,
    exactly like the kernel's single running ``idx``."""
    child_size = max(200, chunk_size // 2)

    def pstep(tbl: str, start: str) -> str:
        return _snap_step(tbl, start, chunk_size, window)

    def cstep(tbl: str, start: str) -> str:
        return _snap_step(tbl, start, child_size, window)

    return f"""
WITH RECURSIVE hbase AS (
  SELECT doc_id::VARCHAR AS doc_id, text, length(text)::INT AS n
  FROM documents WHERE length(text) > 0
),
hp AS (
  SELECT hbase.doc_id, hbase.text, hbase.n, 0::INT AS start_offset,
         e.end_offset::INT AS end_offset, 0::INT AS chunk_index
  FROM hbase,{pstep('hbase', '0')}
  UNION ALL
  SELECT hp.doc_id, hp.text, hp.n, hp.end_offset, e.end_offset::INT, hp.chunk_index + 1
  FROM hp,{pstep('hp', 'hp.end_offset')}
  WHERE hp.end_offset < hp.n
),
hcb AS (
  SELECT doc_id, chunk_index AS parent_index,
         substr(text, start_offset + 1, end_offset - start_offset) AS text,
         (end_offset - start_offset)::INT AS n
  FROM hp
),
hc AS (
  SELECT hcb.doc_id, hcb.parent_index, hcb.text, hcb.n, 0::INT AS start_offset,
         e.end_offset::INT AS end_offset, 0::INT AS child_index
  FROM hcb,{cstep('hcb', '0')}
  UNION ALL
  SELECT hc.doc_id, hc.parent_index, hc.text, hc.n, hc.end_offset, e.end_offset::INT, hc.child_index + 1
  FROM hc,{cstep('hc', 'hc.end_offset')}
  WHERE hc.end_offset < hc.n
),
hpc AS (SELECT doc_id, count(*)::INT AS pcount FROM hp GROUP BY doc_id)
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index, content,
       0 AS level, -1 AS parent_index, NULL::VARCHAR AS parent_chunk_id,
       ((length(content) + 3) // 4)::INT AS token_count
FROM (
  SELECT doc_id, chunk_index,
         substr(text, start_offset + 1, end_offset - start_offset) AS content
  FROM hp
)
UNION ALL
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index, content,
       1 AS level, parent_index, doc_id || '#' || parent_index AS parent_chunk_id,
       ((length(content) + 3) // 4)::INT AS token_count
FROM (
  SELECT hc.doc_id, hc.parent_index,
         (hpc.pcount + row_number() OVER (
            PARTITION BY hc.doc_id ORDER BY hc.parent_index, hc.child_index) - 1)::INT AS chunk_index,
         substr(hc.text, hc.start_offset + 1, hc.end_offset - hc.start_offset) AS content
  FROM hc JOIN hpc USING (doc_id)
)"""


_PYWS = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def semantic_chunk_ctes(base: str, chunk_size: int = 300,
                        threshold: float = 0.3, p: str = "se") -> str:
    """CTE chain replaying chunking.semantic_chunk_doc over ``base``
    (doc_id, text): sentinel-split sentence segmentation with offsets,
    adjacent-sentence word-Jaccard, a recursive greedy clustering fold
    (oversized sentences flush the cluster and word-pack into standalone
    clusters via a nested word fold), and the small-cluster merge fold.
    Ends in {p}chunks(doc_id, chunk_index, c_start, c_end, c_len).

    The folds are per-document recursive CTEs stepping one sentence /
    word / cluster per iteration — depth is bounded by sentences-per-doc,
    so the oracle stays cheap at oracle SFs."""
    B = chunk_size
    minlen = max(1, chunk_size // 10)
    return f"""
{p}sraw AS (
  SELECT doc_id, text,
         string_split(regexp_replace(text, '([.!?] |' || chr(10) || ')',
                                     '\\1' || chr(1), 'g'), chr(1)) AS pieces
  FROM {base}
),
{p}sseg AS (
  SELECT doc_id, j, piece,
         sum(length(piece)) OVER (PARTITION BY doc_id ORDER BY j) - length(piece) AS s_start
  FROM (SELECT doc_id, unnest(pieces) AS piece,
               unnest(range(1, len(pieces) + 1)) AS j
        FROM {p}sraw)
),
{p}sent AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY j) AS sidx,
         s_start, s_start + length(piece) AS s_end,
         length(piece) AS s_len, piece AS s_text
  FROM {p}sseg
  WHERE trim(piece, {_PYWS}) <> ''
),
{p}pre AS (
  SELECT doc_id, sidx, s_start, s_end, s_len, s_text,
         sum(s_len) OVER (PARTITION BY doc_id ORDER BY sidx) AS cum
  FROM {p}sent
),
{p}jac AS (
  SELECT b.doc_id, b.sidx,
         CASE WHEN len(w.wa) = 0 OR len(w.wb) = 0 THEN 0.0
              ELSE len(list_intersect(w.wa, w.wb))::DOUBLE
                   / len(list_distinct(w.wa || w.wb)) END AS jac
  FROM {p}sent a JOIN {p}sent b ON a.doc_id = b.doc_id AND b.sidx = a.sidx + 1,
       LATERAL (SELECT
         list_distinct(list_filter(string_split_regex(lower(a.s_text), '\\s+'), x -> x <> '')) AS wa,
         list_distinct(list_filter(string_split_regex(lower(b.s_text), '\\s+'), x -> x <> '')) AS wb) w
),
{p}cf AS (
  SELECT s.doc_id, s.sidx,
         CASE WHEN s.s_len > {B} THEN NULL ELSE s.sidx END AS cstart,
         CASE WHEN s.s_len > {B} THEN 0 ELSE s.s_len END AS clen,
         NULL::BIGINT AS fs, NULL::BIGINT AS fe
  FROM {p}pre s WHERE s.sidx = 1
  UNION ALL
  SELECT s.doc_id, s.sidx,
         CASE WHEN s.s_len > {B} THEN NULL
              WHEN f.cstart IS NULL THEN s.sidx
              WHEN a.admit THEN f.cstart ELSE s.sidx END,
         CASE WHEN s.s_len > {B} THEN 0
              WHEN f.cstart IS NULL THEN s.s_len
              WHEN a.admit THEN f.clen + s.s_len ELSE s.s_len END,
         CASE WHEN f.cstart IS NOT NULL AND (s.s_len > {B} OR NOT a.admit)
              THEN f.cstart END,
         CASE WHEN f.cstart IS NOT NULL AND (s.s_len > {B} OR NOT a.admit)
              THEN s.sidx - 1 END
  FROM {p}cf f
  JOIN {p}pre s ON s.doc_id = f.doc_id AND s.sidx = f.sidx + 1
  LEFT JOIN {p}jac j ON j.doc_id = s.doc_id AND j.sidx = s.sidx,
       LATERAL (SELECT coalesce(j.jac >= {threshold}, FALSE)
                       AND f.clen + s.s_len <= {B} AS admit) a
),
{p}cmax AS (SELECT doc_id, max(sidx) AS m FROM {p}sent GROUP BY doc_id),
{p}ow AS (
  SELECT doc_id, sidx, s_start, s_end, widx, w, length(w) AS wl, nw
  FROM (SELECT doc_id, sidx, s_start, s_end,
               unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS widx, len(ws) AS nw
        FROM (SELECT doc_id, sidx, s_start, s_end, string_split(s_text, ' ') AS ws
              FROM {p}pre WHERE s_len > {B}))
),
{p}wf AS (
  SELECT doc_id, sidx, widx, nw, s_end, wl AS buf_len, s_start AS off,
         NULL::BIGINT AS es, NULL::BIGINT AS ee
  FROM {p}ow WHERE widx = 1
  UNION ALL
  SELECT w.doc_id, w.sidx, w.widx, w.nw, w.s_end,
         CASE WHEN fl.flush THEN w.wl ELSE f.buf_len + 1 + w.wl END,
         CASE WHEN fl.flush THEN f.off + f.buf_len + 1 ELSE f.off END,
         CASE WHEN fl.flush THEN f.off END,
         CASE WHEN fl.flush THEN f.off + f.buf_len END
  FROM {p}wf f
  JOIN {p}ow w ON w.doc_id = f.doc_id AND w.sidx = f.sidx AND w.widx = f.widx + 1,
       LATERAL (SELECT f.buf_len + 1 + w.wl > {B} AS flush) fl
),
{p}clraw AS (
  SELECT f.doc_id, p1.s_start AS c_start, p2.s_end AS c_end,
         p2.cum - p1.cum + p1.s_len AS c_len,
         f.sidx * 4 AS ord1, 0::BIGINT AS ord2
  FROM {p}cf f
  JOIN {p}pre p1 ON p1.doc_id = f.doc_id AND p1.sidx = f.fs
  JOIN {p}pre p2 ON p2.doc_id = f.doc_id AND p2.sidx = f.fe
  WHERE f.fs IS NOT NULL
  UNION ALL
  SELECT doc_id, es, ee, ee - es, sidx * 4 + 1, widx
  FROM {p}wf WHERE es IS NOT NULL
  UNION ALL
  SELECT f.doc_id, f.off, f.s_end, f.buf_len, f.sidx * 4 + 1, f.nw + 1
  FROM {p}wf f WHERE f.widx = f.nw
  UNION ALL
  SELECT f.doc_id, p1.s_start, p2.s_end, p2.cum - p1.cum + p1.s_len,
         (f.sidx + 1) * 4, 0
  FROM {p}cf f
  JOIN {p}cmax x ON x.doc_id = f.doc_id AND f.sidx = x.m
  JOIN {p}pre p1 ON p1.doc_id = f.doc_id AND p1.sidx = f.cstart
  JOIN {p}pre p2 ON p2.doc_id = f.doc_id AND p2.sidx = f.sidx
  WHERE f.cstart IS NOT NULL
),
{p}cl AS (
  SELECT doc_id, c_start, c_end, c_len,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord1, ord2) AS ck
  FROM {p}clraw
),
{p}mf AS (
  SELECT doc_id, ck, c_start AS m_start, c_end AS m_end, c_len AS m_len,
         NULL::BIGINT AS es, NULL::BIGINT AS ee
  FROM {p}cl WHERE ck = 1
  UNION ALL
  SELECT c.doc_id, c.ck,
         CASE WHEN mg.merge THEN f.m_start ELSE c.c_start END,
         CASE WHEN mg.merge THEN c.c_end ELSE c.c_end END,
         CASE WHEN mg.merge THEN f.m_len + c.c_len ELSE c.c_len END,
         CASE WHEN mg.merge THEN NULL ELSE f.m_start END,
         CASE WHEN mg.merge THEN NULL ELSE f.m_end END
  FROM {p}mf f
  JOIN {p}cl c ON c.doc_id = f.doc_id AND c.ck = f.ck + 1,
       LATERAL (SELECT (c.c_len < {minlen} OR f.m_len < {minlen})
                       AND f.m_len + c.c_len <= {B} AS merge) mg
),
{p}kmax AS (SELECT doc_id, max(ck) AS mk FROM {p}cl GROUP BY doc_id),
{p}emit AS (
  SELECT doc_id, es AS c_start, ee AS c_end, ck * 2 AS ord
  FROM {p}mf WHERE es IS NOT NULL
  UNION ALL
  SELECT f.doc_id, f.m_start, f.m_end, (f.ck + 1) * 2
  FROM {p}mf f JOIN {p}kmax x ON x.doc_id = f.doc_id AND f.ck = x.mk
),
{p}chunks AS (
  SELECT doc_id, c_start, c_end,
         (row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1)::INT AS chunk_index
  FROM {p}emit
)"""


def q_chunk_semantic(chunk_size: int = 300, threshold: float = 0.3) -> str:
    """K4 semantic chunking oracle — see semantic_chunk_ctes."""
    return f"""
WITH RECURSIVE sebase AS (
  SELECT doc_id::VARCHAR AS doc_id, text FROM documents WHERE length(text) > 0
),
{semantic_chunk_ctes('sebase', chunk_size, threshold).lstrip()}
SELECT c.doc_id, c.doc_id || '#' || c.chunk_index AS chunk_id, c.chunk_index,
       substr(b.text, c.c_start + 1, c.c_end - c.c_start) AS content,
       c.c_start::INT AS start_offset, c.c_end::INT AS end_offset,
       ((c.c_end - c.c_start + 3) // 4)::INT AS token_count,
       (count(*) OVER (PARTITION BY c.doc_id))::INT AS total_chunks
FROM sechunks c JOIN sebase b USING (doc_id)"""


def q_chunk_hybrid(chunk_size: int = 300, overlap: int = 60,
                   threshold: float = 0.3, window: int = 50) -> str:
    """K6 hybrid chunking oracle: replays chunking.analyze_content
    routing in SQL (header/list line counts, code-fence count, average
    sentence length over the sentinel-split sentences), then runs the
    routed strategy per document — markdown_chunk_ctes /
    semantic_chunk_ctes / the character snap fold (overlap>0) — and
    unions the three with a strategy tag."""
    B = chunk_size

    def cstep(tbl: str, start: str) -> str:
        return _snap_step(tbl, start, B, window)

    return f"""
WITH RECURSIVE hybase AS MATERIALIZED (
  SELECT doc_id::VARCHAR AS doc_id, text FROM documents WHERE length(text) > 0
),
hyl AS MATERIALIZED (
  SELECT doc_id, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM hybase)
),
hylc AS (
  SELECT doc_id,
         sum(CASE WHEN s.stripped LIKE '#%' THEN 1 ELSE 0 END) AS header_lines,
         sum(CASE WHEN substr(s.stripped, 1, 2) IN ('- ', '* ', '1.') THEN 1 ELSE 0 END) AS list_lines
  FROM hyl, LATERAL (SELECT ltrim(line, {_PYWS}) AS stripped) s
  GROUP BY doc_id
),
hysl AS (
  SELECT doc_id,
         coalesce(sum(CASE WHEN trim(piece, {_PYWS}) <> '' THEN length(piece) END), 0)
           ::DOUBLE AS s_sum,
         coalesce(sum(CASE WHEN trim(piece, {_PYWS}) <> '' THEN 1 END), 0) AS s_cnt
  FROM (SELECT doc_id, unnest(string_split(regexp_replace(text, '([.!?] |' || chr(10) || ')',
                                           '\\1' || chr(1), 'g'), chr(1))) AS piece
        FROM hybase)
  GROUP BY doc_id
),
hyroute AS MATERIALIZED (
  SELECT b.doc_id, b.text,
         CASE WHEN c.header_lines >= 2 OR (c.header_lines >= 1 AND c.list_lines >= 2)
                   OR (length(b.text) - length(replace(b.text, '```', ''))) // 3 >= 2
              THEN 'markdown'
              WHEN CASE WHEN s.s_cnt = 0 THEN 0.0 ELSE s.s_sum / s.s_cnt END > 50
              THEN 'semantic'
              ELSE 'character' END AS route
  FROM hybase b JOIN hylc c USING (doc_id) JOIN hysl s USING (doc_id)
),
hymd AS MATERIALIZED (SELECT doc_id, text FROM hyroute WHERE route = 'markdown'),
hysem AS MATERIALIZED (SELECT doc_id, text FROM hyroute WHERE route = 'semantic'),
hych AS MATERIALIZED (
  SELECT doc_id, text, length(text)::INT AS n FROM hyroute WHERE route = 'character'
),
{markdown_chunk_ctes('hymd', B, p='hm').lstrip()},
{semantic_chunk_ctes('hysem', B, threshold, p='hs').lstrip()},
hcch AS (
  SELECT hych.doc_id, hych.text, hych.n, 0::INT AS start_offset,
         e.end_offset::INT AS end_offset, 0::INT AS chunk_index
  FROM hych,{cstep('hych', '0')}
  UNION ALL
  SELECT hcch.doc_id, hcch.text, hcch.n, s.ns::INT, e.end_offset::INT, hcch.chunk_index + 1
  FROM hcch,
       LATERAL (SELECT greatest(hcch.end_offset - {overlap}, hcch.start_offset + 1) AS ns) s,{cstep('hcch', 's.ns')}
  WHERE hcch.end_offset < hcch.n
),
hyall AS (
  SELECT doc_id, chunk_index, content, clen, 'markdown' AS strategy FROM hmchunks
  UNION ALL
  SELECT c.doc_id, c.chunk_index, substr(b.text, c.c_start + 1, c.c_end - c.c_start),
         c.c_end - c.c_start, 'semantic'
  FROM hschunks c JOIN hysem b USING (doc_id)
  UNION ALL
  SELECT doc_id, chunk_index, substr(text, start_offset + 1, end_offset - start_offset),
         end_offset - start_offset, 'character'
  FROM hcch
)
SELECT doc_id, doc_id || '#' || chunk_index AS chunk_id, chunk_index::INT AS chunk_index,
       content, strategy, ((clen + 3) // 4)::INT AS token_count,
       (count(*) OVER (PARTITION BY doc_id))::INT AS total_chunks
FROM hyall"""


def q_chunk_collapse(k: int = 20) -> str:
    """W4 first-hit chunk→doc collapse oracle: deterministic pseudo
    retrieval (hash60 of query||chunk) over fixed chunks, then collapse."""
    return f"""
WITH {fixed_chunk_ctes().lstrip()},
qs AS (SELECT query_id FROM {queries_values_sql(IR_QUERY_TERMS)}),
scored AS (
  SELECT query_id, doc_id, chunk_id,
         {hash60_expr("query_id || '#' || chunk_id")} AS h
  FROM fchunks CROSS JOIN qs
),
rk AS (
  SELECT query_id, doc_id, chunk_id,
         row_number() OVER (PARTITION BY query_id ORDER BY h ASC, chunk_id ASC) AS rank
  FROM scored
),
topc AS (SELECT * FROM rk WHERE rank <= {k}),
fh AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id ORDER BY rank) AS _fh
  FROM topc
),
collapsed AS (
  SELECT query_id, doc_id, chunk_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rank
  FROM fh WHERE _fh = 1
)
SELECT query_id, doc_id, chunk_id, rank::INT AS rank FROM collapsed"""


def q_ir_metrics(k_values: tuple[int, ...] = (5, 10), k: int = 10) -> str:
    per_k_blocks = []
    for kk in k_values:
        per_k_blocks.append(f"""
ideal_{kk} AS (
  SELECT query_id, sum(grade / log2(irank + 1)) AS idcg
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id ORDER BY grade DESC, doc_id ASC) AS irank
        FROM qrels)
  WHERE irank <= {kk} AND grade > 0
  GROUP BY query_id
),
base_{kk} AS (
  SELECT j.query_id,
         sum(rel)::DOUBLE / {kk} AS precision,
         sum(rel)::BIGINT AS hits,
         sum(CASE WHEN grade > 0 THEN grade / log2(rank + 1) ELSE 0.0 END) AS dcg
  FROM j WHERE rank <= {kk} GROUP BY j.query_id
),
m_{kk} AS (
  SELECT b.query_id, {kk}::INT AS k, b.precision,
         CASE WHEN n.n_relevant > 0 THEN b.hits::DOUBLE / n.n_relevant ELSE 0.0 END AS recall,
         CASE WHEN i.idcg > 0 THEN b.dcg / i.idcg ELSE 0.0 END AS ndcg
  FROM base_{kk} b LEFT JOIN nrel n USING (query_id) LEFT JOIN ideal_{kk} i USING (query_id)
)""")
    unions = []
    for kk in k_values:
        unions.append(f"SELECT query_id, 'precision' AS metric, k, round(precision, 6) AS value FROM m_{kk}")
        unions.append(f"SELECT query_id, 'recall' AS metric, k, round(recall, 6) AS value FROM m_{kk}")
        unions.append(f"SELECT query_id, 'ndcg' AS metric, k, round(ndcg, 6) AS value FROM m_{kk}")
    unions.append("SELECT query_id, 'mrr' AS metric, CAST(NULL AS INT) AS k, round(mrr, 6) AS value FROM unk")
    unions.append("SELECT query_id, 'ap' AS metric, CAST(NULL AS INT) AS k, round(ap, 6) AS value FROM unk")
    union_sql = "\nUNION ALL\n".join(unions)
    return f"""
WITH {bm25_search_ctes(IR_QUERY_TERMS, k)},
retrieved AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {k}),
qrels AS (
  SELECT q.query_id, tf.doc_id, least(3, tf.tf) AS grade
  FROM tf JOIN (SELECT query_id, query_text AS term FROM {queries_values_sql(IR_QUERY_TERMS)}) q USING (term)
),
nrel AS (SELECT query_id, count(*)::BIGINT AS n_relevant FROM qrels WHERE grade > 0 GROUP BY query_id),
j AS (
  SELECT r.query_id, r.doc_id, r.rank, coalesce(qr.grade, 0) AS grade,
         CASE WHEN coalesce(qr.grade, 0) > 0 THEN 1 ELSE 0 END AS rel
  FROM retrieved r LEFT JOIN qrels qr ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
),
jc AS (
  SELECT *, sum(rel) OVER (PARTITION BY query_id ORDER BY rank
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hits
  FROM j
),
unk AS (
  SELECT a.query_id,
         coalesce(a.mrr_raw, 0.0) AS mrr,
         CASE WHEN n.n_relevant > 0 THEN coalesce(a.ap_num, 0.0) / n.n_relevant ELSE 0.0 END AS ap
  FROM (SELECT query_id,
               max(CASE WHEN rel = 1 THEN 1.0 / rank END) AS mrr_raw,
               sum(CASE WHEN rel = 1 THEN cum_hits::DOUBLE / rank END) AS ap_num
        FROM jc GROUP BY query_id) a
  LEFT JOIN nrel n USING (query_id)
),{",".join(per_k_blocks)}
{union_sql}"""


def q_ir_metrics_agg(k_values: tuple[int, ...] = (5, 10), k: int = 10) -> str:
    inner = q_ir_metrics(k_values, k)
    return (
        "SELECT metric, k, round(avg(value), 6) AS value FROM ("
        + inner.replace("round(precision, 6) AS value", "precision AS value")
               .replace("round(recall, 6) AS value", "recall AS value")
               .replace("round(ndcg, 6) AS value", "ndcg AS value")
               .replace("round(mrr, 6) AS value", "mrr AS value")
               .replace("round(ap, 6) AS value", "ap AS value")
        + ") GROUP BY metric, k"
    )


def q_dedup_exact() -> str:
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()}
SELECT sha256(text) AS content_hash, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc_id
FROM aug_docs GROUP BY sha256(text) HAVING count(*) > 1"""


def q_ngram_jaccard(n: int = 3, threshold: float = 0.5) -> str:
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{shingle_ctes("aug_docs", n).lstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_shingles AS na, b.n_shingles AS nb,
         count(*)::BIGINT AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
)
SELECT doc_a, doc_b, round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
FROM inter WHERE n_common::DOUBLE / (na + nb - n_common) >= {threshold}"""


def q_ngram_containment(n: int = 3, threshold: float = 0.8) -> str:
    """Twin of dedup.ngram_containment_pairs: overlap coefficient with
    the exact integer cross-multiplied threshold."""
    t_scaled = int(round(threshold * 1_000_000))
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{shingle_ctes("aug_docs", n).lstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_shingles AS na, b.n_shingles AS nb,
         count(*)::BIGINT AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / least(na, nb), 6) AS containment,
       round(n_common::DOUBLE / (na + nb - n_common), 6) AS jaccard
FROM inter
WHERE n_common * 1000000 >= {t_scaled} * least(na, nb)"""


def _minhash_verified_ctes(num_hashes: int, bands: int, n: int) -> str:
    """CTE chain aug_docs → … → verified (doc_a, doc_b, jaccard) shared
    by the pair-list and cluster oracles."""
    from semantik_spark.operators.dedup import minhash_mix_constants

    rows_per_band = num_hashes // bands
    consts = minhash_mix_constants(num_hashes)
    mh_cols = ", ".join(
        f"min(xor(h, {c}::BIGINT)) AS mh{i}" for i, c in enumerate(consts)
    )
    band_rows = ", ".join(
        "({b}, {key})".format(
            b=b,
            key=" || ',' || ".join(
                f"mh{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""{AUGMENTED_DOCS_CTE.lstrip()},
{shingle_ctes("aug_docs", n).lstrip()},
sigw AS (
  SELECT doc_id, {mh_cols}
  FROM (SELECT doc_id, {hash60_expr("shingle")} AS h FROM sh)
  GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b.band, b.band_key
  FROM sigw, LATERAL (VALUES {band_rows}) AS b(band, band_key)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_shingles AS na, b.n_shingles AS nb,
         count(*)::BIGINT AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
),
verified AS (
  SELECT c.doc_a, c.doc_b, i.n_common::DOUBLE / (i.na + i.nb - i.n_common) AS jaccard
  FROM candidates c JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
)"""


def q_minhash_lsh(num_hashes: int = 16, bands: int = 4, n: int = 3, threshold: float = 0.5) -> str:
    return f"""
WITH {_minhash_verified_ctes(num_hashes, bands, n)}
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM verified WHERE jaccard >= {threshold}"""


def q_dedup_clusters(num_hashes: int = 16, bands: int = 4, n: int = 3,
                     threshold: float = 0.5) -> str:
    """Near-dup pairs → connected components via recursive transitive
    closure; cluster label = min doc_id reachable (matches the Spark
    min-label propagation fixpoint exactly)."""
    return f"""
WITH RECURSIVE {_minhash_verified_ctes(num_hashes, bands, n)},
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {threshold}
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
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id)::BIGINT AS cluster_size,
       doc_id = cluster_id AS is_keeper
FROM cc"""


def simhash_sig_ctes(doc_table: str = "documents", bits: int = 60) -> str:
    """wtok → tokf → per_bit → ssig(doc_id, simhash) — mirrors
    dedup.simhash exactly."""
    return f"""
wtok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0) AS toks
  FROM {doc_table}
),
tokf AS (
  SELECT doc_id, token, count(*)::BIGINT AS tf,
         {hash60_expr("token")} AS h
  FROM (SELECT doc_id, unnest(toks) AS token FROM wtok)
  GROUP BY doc_id, token
),
per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM (SELECT doc_id, tf, h, unnest(range(0, {bits})) AS bit FROM tokf)
  GROUP BY doc_id, bit
),
ssig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END)::BIGINT AS simhash
  FROM per_bit GROUP BY doc_id
)"""


def q_simhash_pairs(max_hamming: int = 3, bits: int = 60) -> str:
    """All-pairs in DuckDB (fine at oracle SF); the Spark side is
    band-blocked, which pigeonhole makes exactly complete, so the two
    agree row-for-row."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{simhash_sig_ctes('aug_docs', bits).lstrip()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def q_embedding_dups(threshold: float = 0.99) -> str:
    return f"""
WITH {AUGMENTED_EMB_CTE.lstrip()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({cosine_expr("a.v", "b.v")}, 6) AS cos
FROM aug_emb a CROSS JOIN aug_emb b
WHERE a.vec_id < b.vec_id AND {cosine_expr("a.v", "b.v")} >= {threshold}"""


def q_knn_bruteforce(k: int = 5) -> str:
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, corpus.vec_id, {cosine_expr("corpus.v", "q.qv")} AS cos
  FROM corpus CROSS JOIN q
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def q_knn_ivf(k: int = 5, n_centroids: int = 16, nprobe: int = 4,
              refine_iters: int = 1, train_table: str = "corpus",
              sample_mod: int | None = None) -> str:
    """Twin of similarity.knn_ivf: centroids = n smallest-id corpus
    vectors refined by ``refine_iters`` Lloyd steps (assignment by
    cosine, per-dim mean rounded to 6 dp — the rounding is what makes
    the refinement engine-portable, see similarity.ivf_refine); then
    nearest-centroid assignment (tie → smaller cid), nprobe cells
    probed per query, exact cosine rank inside probed cells.

    ``train_table``: the CTE the codebook trains on — "corpus" for the
    standard one-shot build; "base" (corpus minus the appended rows)
    for the FROZEN-codebook append twin (knn_ivf_append): train on
    base, assign and serve base ∪ appended, exactly FAISS's
    train-vs-add split.

    ``sample_mod``: adds a ``tsample`` CTE (hash60(vec_id) % mod = 0 —
    similarity.train_sample's exact predicate) and trains on it; pass
    train_table='tsample' — the sampled-codebook-training twin
    (knn_ivf_sampled)."""
    sample_cte = (
        f",\ntsample AS (SELECT * FROM corpus "
        f"WHERE {hash60_expr('vec_id')} % {sample_mod} = 0)"
        if sample_mod else "")
    refine = []
    prev = "cent0"
    for i in range(refine_iters):
        nxt = "cent" if i == refine_iters - 1 else f"cent{i + 1}"
        refine.append(f"""
rassign{i} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT t.vec_id, t.v, {prev}.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {cosine_expr("t.v", f"{prev}.cv")} DESC, {prev}.cid ASC) AS rn
    FROM {train_table} t CROSS JOIN {prev}) WHERE rn = 1),
rmeans{i} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign{i})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
{nxt} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN rmeans{i} m USING (cid))""")
        prev = nxt
    refine_sql = ",".join(refine)
    alias = "" if refine_iters else ",\ncent AS (SELECT * FROM cent0)"
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
base AS (SELECT * FROM corpus WHERE vec_id % 5 != 0){sample_cte},
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM {train_table} ORDER BY vec_id LIMIT {n_centroids}){"," if refine_sql else ""}{refine_sql}{alias},
assigned AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT corpus.vec_id, corpus.v, cent.cid,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM corpus CROSS JOIN cent) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid AS centroid_id FROM (
    SELECT q.query_id, q.qv, cent.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cosine_expr("q.qv", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {nprobe}),
scored AS (
  SELECT p.query_id, a.vec_id, {cosine_expr("a.v", "p.qv")} AS cos
  FROM assigned a JOIN probes p USING (centroid_id)),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def q_ivf_codebook_drift(n_centroids: int = 16,
                         threshold_milli: int = 200) -> str:
    """Twin of similarity.ivf_assignment_drift on the frozen-codebook
    drift scenario: codebook trained (seed + 1 Lloyd step, 6-dp means)
    on base = corpus with vec_id % 5 != 0; the held-out fifth arrives
    as an append BATCH either abs-transformed ('drifted') or untouched
    ('in_distribution'); PSI over the per-cell assignment histograms
    of batch vs build-time corpus under the frozen codebook — both
    scenarios emitted so the detector's discrimination is pinned."""
    thr = threshold_milli / 1000.0

    def branch(label: str, delta_cte: str) -> str:
        s = label[:2]
        return f"""
d{s} AS ({delta_cte}),
a{s} AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT c.vec_id, cent.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cosine_expr("c.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM d{s} c CROSS JOIN cent) WHERE rn = 1),
h{s} AS (SELECT centroid_id, count(*)::BIGINT AS n FROM a{s} GROUP BY 1),
j{s} AS (
  SELECT cent.cid AS centroid_id,
         coalesce(href.n, 0)::BIGINT AS n_ref,
         coalesce(h{s}.n, 0)::BIGINT AS n_cur
  FROM cent
  LEFT JOIN href ON href.centroid_id = cent.cid
  LEFT JOIN h{s} ON h{s}.centroid_id = cent.cid),
sm{s} AS (
  SELECT centroid_id, n_ref, n_cur,
         (n_ref + 1)::DOUBLE / (sum(n_ref) OVER () + {n_centroids})::DOUBLE AS q_,
         (n_cur + 1)::DOUBLE / (sum(n_cur) OVER () + {n_centroids})::DOUBLE AS p_
  FROM j{s}),
t{s} AS (
  SELECT '{label}' AS batch, centroid_id, n_ref, n_cur,
         round((p_ - q_) * ln(p_ / q_), 6)::DECIMAL(12,6) AS psi_term
  FROM sm{s})"""

    drifted = branch(
        "drifted",
        "SELECT vec_id, list_transform(v, x -> abs(x)) AS v "
        "FROM corpus WHERE vec_id % 5 = 0")
    indist = branch(
        "in_distribution",
        "SELECT vec_id, v FROM corpus WHERE vec_id % 5 = 0")
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
base AS (SELECT * FROM corpus WHERE vec_id % 5 != 0),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM base ORDER BY vec_id LIMIT {n_centroids}),
rassign0 AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT t.vec_id, t.v, cent0.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {cosine_expr("t.v", "cent0.cv")} DESC, cent0.cid ASC) AS rn
    FROM base t CROSS JOIN cent0) WHERE rn = 1),
rmeans0 AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign0)
    GROUP BY centroid_id, dim)
  GROUP BY cid),
cent AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM cent0 c LEFT JOIN rmeans0 m USING (cid)),
aref AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT b.vec_id, cent.cid,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {cosine_expr("b.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM base b CROSS JOIN cent) WHERE rn = 1),
href AS (SELECT centroid_id, count(*)::BIGINT AS n FROM aref GROUP BY 1),
{drifted},
{indist}
SELECT batch, centroid_id, n_ref, n_cur,
       psi_term::DOUBLE AS psi_term,
       (sum(psi_term) OVER (PARTITION BY batch))::DOUBLE AS psi_total,
       (sum(psi_term) OVER (PARTITION BY batch))::DOUBLE > {thr}
         AS retrain_needed
FROM (SELECT * FROM tdr UNION ALL SELECT * FROM tin) u"""


def q_ivf_retrain_recall(k: int = 5, n_centroids: int = 16,
                         nprobe: int = 4) -> str:
    """Twin of ivf_retrain_recall: recall@k on the drifted workload
    (abs-transformed queries) over combined = base ∪ abs-drifted
    fifth, under the STALE codebook (trained on base) vs the FRESH
    one (retrained on combined) — the blue/green retrain's payoff as
    a hash-pinned row. Replays both trainings (seed + 1 Lloyd step,
    6-dp means) exactly like q_knn_ivf."""

    def branch(label: str, train: str) -> str:
        s = label[:2]
        return f"""
c0{s} AS (SELECT vec_id AS cid, v AS cv FROM {train} ORDER BY vec_id LIMIT {n_centroids}),
ra{s} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT t.vec_id, t.v, c0{s}.cid,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY {cosine_expr("t.v", f"c0{s}.cv")} DESC, c0{s}.cid ASC) AS rn
    FROM {train} t CROSS JOIN c0{s}) WHERE rn = 1),
rm{s} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM ra{s})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
ct{s} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM c0{s} c LEFT JOIN rm{s} m USING (cid)),
as{s} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT combined.vec_id, combined.v, ct{s}.cid,
           row_number() OVER (PARTITION BY combined.vec_id
                              ORDER BY {cosine_expr("combined.v", f"ct{s}.cv")} DESC, ct{s}.cid ASC) AS rn
    FROM combined CROSS JOIN ct{s}) WHERE rn = 1),
pr{s} AS (
  SELECT query_id, qv, cid AS centroid_id FROM (
    SELECT q.query_id, q.qv, ct{s}.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cosine_expr("q.qv", f"ct{s}.cv")} DESC, ct{s}.cid ASC) AS rn
    FROM q CROSS JOIN ct{s}) WHERE rn <= {nprobe}),
sc{s} AS (
  SELECT p.query_id, a.vec_id, {cosine_expr("a.v", "p.qv")} AS cos
  FROM as{s} a JOIN pr{s} p USING (centroid_id)),
tk{s} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id ASC) AS rank
    FROM sc{s}) WHERE rank <= {k}),
re{s} AS (
  SELECT '{label}' AS method,
         (SELECT count(*)::BIGINT FROM bf JOIN tk{s} USING (query_id, vec_id)) AS n_hit,
         (SELECT count(*)::BIGINT FROM bf) AS n_exact)"""

    return f"""
WITH corpus0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
base AS (SELECT * FROM corpus0 WHERE vec_id % 5 != 0),
combined AS (
  SELECT * FROM base
  UNION ALL
  SELECT vec_id, list_transform(v, x -> abs(x)) AS v
  FROM corpus0 WHERE vec_id % 5 = 0),
q AS (SELECT vec_id AS query_id,
             list_transform(embedding::DOUBLE[], x -> abs(x)) AS qv
      FROM embeddings WHERE vec_id < 10),
bfsc AS (
  SELECT q.query_id, combined.vec_id, {cosine_expr("combined.v", "q.qv")} AS cos
  FROM combined CROSS JOIN q),
bf AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id ASC) AS rank
    FROM bfsc) WHERE rank <= {k}),
{branch("stale", "base")},
{branch("fresh", "combined")}
SELECT method, n_hit, n_exact,
       round(n_hit::DOUBLE / n_exact, 6) AS recall
FROM (SELECT * FROM rest UNION ALL SELECT * FROM refr) u"""


def _hyperplane_literals(dim: int, nbits: int) -> list[str]:
    """Python-side replay of similarity._hyperplane: hash60('hp:b:j')
    scaled by /2^59 - 1. md5 is identical everywhere, so these literals
    equal the Spark-computed values bit-for-bit."""
    import hashlib

    planes = []
    for b in range(nbits):
        comps = []
        for j in range(dim):
            h = int(hashlib.md5(f"hp:{b}:{j}".encode()).hexdigest()[:15], 16)
            comps.append(repr(h / float(2 ** 59) - 1.0))
        planes.append("[" + ", ".join(comps) + "]")
    return planes


def q_knn_quantized(k: int = 5, rescore_k: int = 20) -> str:
    """Twin of similarity.knn_quantized: int8 quantize/reconstruct
    (scale = 127/max|x|, code = floor(x*scale + 0.5)), approximate rank
    on reconstructed vectors, exact rescore of the top rescore_k."""
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
qz AS (
  SELECT vec_id, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
              ELSE 1.0 END AS scale
  FROM corpus
),
deq AS (
  SELECT vec_id, list_transform(v, x -> floor(x * scale + 0.5) / scale) AS dv FROM qz
),
approx AS (
  SELECT q.query_id, deq.vec_id, {cosine_expr("deq.dv", "q.qv")} AS acos
  FROM deq CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id ASC) AS arank
    FROM approx
  ) WHERE arank <= {rescore_k}
),
exact AS (
  SELECT c2.query_id, c2.vec_id, {cosine_expr("corpus.v", "q.qv")} AS cos
  FROM cand c2 JOIN corpus ON c2.vec_id = corpus.vec_id JOIN q ON c2.query_id = q.query_id
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM exact
)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def _binary_code_expr(vec: str, dim: int, word: int, word_bits: int = 32) -> str:
    """Twin of similarity.binary_code: sum of CASE sign-bit terms for
    one 32-bit word (values stay in [0, 2^32) — no sign issues)."""
    lo = word * word_bits
    hi = min(dim, lo + word_bits)
    terms = " + ".join(
        f"(CASE WHEN {vec}[{j + 1}] > 0 THEN (1::BIGINT << {j - lo}) ELSE 0::BIGINT END)"
        for j in range(lo, hi)
    )
    return f"({terms})"


def q_knn_binary(k: int = 5, rescore_k: int = 20, dim: int = 64) -> str:
    """Twin of similarity.knn_binary: sign-bit codes packed into 32-bit
    words, Hamming-ascending candidates, exact-cosine rescore."""
    n_words = (dim + 31) // 32
    ccols = ", ".join(
        f"{_binary_code_expr('v', dim, w)} AS c{w}" for w in range(n_words)
    )
    qcols = ", ".join(
        f"{_binary_code_expr('qv', dim, w)} AS q{w}" for w in range(n_words)
    )
    ham = " + ".join(
        f"bit_count(xor(cc.c{w}, qc.q{w}))" for w in range(n_words)
    )
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cc AS (SELECT vec_id, {ccols} FROM corpus),
qc AS (SELECT query_id, {qcols} FROM q),
scored AS (
  SELECT qc.query_id, cc.vec_id, ({ham})::INT AS ham
  FROM cc CROSS JOIN qc),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY ham ASC, vec_id ASC) AS hrank
    FROM scored
  ) WHERE hrank <= {rescore_k}),
exact AS (
  SELECT c2.query_id, c2.vec_id, {cosine_expr("corpus.v", "q.qv")} AS cos
  FROM cand c2 JOIN corpus ON c2.vec_id = corpus.vec_id JOIN q ON c2.query_id = q.query_id),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM exact)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def q_matryoshka_recall(k: int = 10, dims: tuple = (8, 16, 32, 64)) -> str:
    """Twin of similarity.matryoshka_recall: per-dim truncated-cosine
    top-k vs full-dim exact top-k."""
    full = max(dims)
    dims_sql = "[" + ", ".join(str(d) for d in dims) + "]"
    tc = cosine_expr("list_slice(v, 1, dim)", "list_slice(qv, 1, dim)")
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT dim, query_id, corpus.vec_id, {tc} AS cos
  FROM corpus CROSS JOIN q CROSS JOIN (SELECT unnest({dims_sql}) AS dim) d),
topk AS (
  SELECT dim, query_id, vec_id FROM (
    SELECT dim, query_id, vec_id,
           row_number() OVER (PARTITION BY dim, query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {k}),
exact AS (SELECT query_id, vec_id FROM topk WHERE dim = {full}),
hits AS (
  SELECT dim, count(*)::BIGINT AS n_hit
  FROM topk JOIN exact USING (query_id, vec_id)
  GROUP BY dim),
den AS (SELECT count(*)::BIGINT AS n_exact FROM exact)
SELECT dim::INT AS dim, n_hit, n_exact,
       round(n_hit::DOUBLE / n_exact, 6) AS recall
FROM hits CROSS JOIN den"""


def q_knn_lsh(k: int = 5, dim: int = 64, nbits: int = 8) -> str:
    planes = _hyperplane_literals(dim, nbits)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {planes[b]}) > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(nbits)
    )
    qsig_terms = sig_terms.replace("list_dot_product(v,", "list_dot_product(qv,")
    probes = "[qbucket] || [xor(qbucket, (1::BIGINT << b)) for b in range(0, %d)]" % nbits
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10
),
cb AS (SELECT vec_id, v, ({sig_terms})::BIGINT AS bucket FROM corpus),
q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
qb AS (SELECT query_id, qv, ({qsig_terms})::BIGINT AS qbucket FROM q0),
qp AS (SELECT query_id, qv, unnest({probes}) AS bucket FROM qb),
scored AS (
  SELECT qp.query_id, cb.vec_id, {cosine_expr("cb.v", "qp.qv")} AS cos
  FROM cb JOIN qp USING (bucket)
),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


# --- SPLADE (test-mode encoder, operators/splade.py) -----------------------

def splade_doc_ctes(doc_table: str = "documents", vocab: int = 30522) -> str:
    """stok → stf → sact (doc_id, vocab_id, max-pooled weight) — mirrors
    splade.encode exactly: vocab_id = hash60(term) % V, expansion id =
    hash60(term||'#exp') % V at half weight, activation ln(1+tf),
    max-pool per (doc, vocab_id)."""
    return f"""
stok AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM {doc_table}
), stf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM stok)
  GROUP BY doc_id, term
), sact AS (
  SELECT doc_id, vocab_id, max(weight) AS weight FROM (
    SELECT doc_id, {hash60_expr('term')} % {vocab} AS vocab_id,
           ln(1.0 + tf) AS weight FROM stf
    UNION ALL
    SELECT doc_id, {hash60_expr("term || '#exp'")} % {vocab} AS vocab_id,
           0.5 * ln(1.0 + tf) AS weight FROM stf
  ) GROUP BY doc_id, vocab_id
)"""


def q_splade_vocab(vocab_mod: int = 2, sample_mod: int = 25,
                   size: int = 30522, n_special: int = 5) -> str:
    """Twin of splade.build_vocab_file + encode_with_vocab: vocab terms
    = df-ranked (desc, term asc) tokens of the doc_id%vocab_mod==0
    half, ids offset past the special-token head; encode the
    doc_id%sample_mod==0 sample with OOV → [UNK]=1 and max-pool."""
    tok = (f"list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),"
           f" t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t))")
    return f"""
WITH vtok AS (
  SELECT doc_id, {tok} AS tokens FROM documents WHERE doc_id % {vocab_mod} = 0
), vdf AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM vtok)
  GROUP BY term
), vr AS (
  SELECT term,
         (row_number() OVER (ORDER BY df DESC, term ASC) + {n_special - 1})::BIGINT AS vocab_id
  FROM vdf
  QUALIFY row_number() OVER (ORDER BY df DESC, term ASC) <= {size - n_special}
), etok AS (
  SELECT doc_id, {tok} AS tokens FROM documents WHERE doc_id % {sample_mod} = 0
), etf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(tokens) AS term FROM etok)
  GROUP BY doc_id, term
)
SELECT doc_id, coalesce(vocab_id, 1)::BIGINT AS vocab_id,
       round(max(ln(1.0 + tf)), 6) AS weight
FROM etf LEFT JOIN vr USING (term)
GROUP BY doc_id, coalesce(vocab_id, 1)"""


def q_splade_search(query_pairs: list[tuple[str, str]] | None = None,
                    k: int = 10, vocab: int = 30522) -> str:
    pairs = query_pairs if query_pairs is not None else SEARCH_QUERIES
    return f"""
WITH {splade_doc_ctes()},
sqsrc AS (SELECT * FROM {queries_values_sql(pairs)}),
sqtok AS (
  SELECT query_id,
         list_filter(regexp_extract_all(lower(query_text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM sqsrc
), sqtf AS (
  SELECT query_id, term, count(*)::BIGINT AS tf
  FROM (SELECT query_id, unnest(tokens) AS term FROM sqtok)
  GROUP BY query_id, term
), sqact AS (
  SELECT query_id, vocab_id, max(weight) AS weight FROM (
    SELECT query_id, {hash60_expr('term')} % {vocab} AS vocab_id,
           ln(1.0 + tf) AS weight FROM sqtf
    UNION ALL
    SELECT query_id, {hash60_expr("term || '#exp'")} % {vocab} AS vocab_id,
           0.5 * ln(1.0 + tf) AS weight FROM sqtf
  ) GROUP BY query_id, vocab_id
), sscored AS (
  SELECT sqact.query_id, sact.doc_id,
         round(sum(sact.weight * sqact.weight), 6) AS score
  FROM sact JOIN sqact USING (vocab_id)
  GROUP BY sqact.query_id, sact.doc_id
), sranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM sscored
)
SELECT query_id, doc_id, score, rank::INT AS rank FROM sranked WHERE rank <= {k}"""


# --- HyDE hybrid (operators/hyde.py, deterministic generator) --------------

def q_hyde_hybrid(k: int = 10, search_k: int = 20, rrf_k: int = 60) -> str:
    """Hybrid RRF with the dense branch driven by the deterministic
    HyDE passage (template inlined — apostrophe-free) and the sparse
    branch by the original query."""
    from semantik_spark.operators.hyde import deterministic_generate

    hyde_pairs = [(qid, deterministic_generate(qt)) for qid, qt in SEARCH_QUERIES]
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, search_k)},
{mock_dense_ctes(hyde_pairs, search_k).lstrip()},
dtop AS (SELECT query_id, doc_id, score AS dense_score, rank AS dense_rank
         FROM dranked WHERE rank <= {search_k}),
stop_ AS (SELECT query_id, doc_id, score AS sparse_score, rank AS sparse_rank
          FROM ranked WHERE rank <= {search_k}),
fused AS (
  SELECT query_id, doc_id,
         coalesce(1.0 / ({rrf_k} + dense_rank), 0.0) + coalesce(1.0 / ({rrf_k} + sparse_rank), 0.0) AS score,
         dense_rank, sparse_rank, dense_score, sparse_score
  FROM dtop FULL OUTER JOIN stop_ USING (query_id, doc_id)
),
franked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, round(score, 6) AS score, rank::INT AS rank,
       dense_rank::INT AS dense_rank, sparse_rank::INT AS sparse_rank,
       round(dense_score, 6) AS dense_score, round(sparse_score, 6) AS sparse_score
FROM franked WHERE rank <= {k}"""


# --- extractors (operators/extract.py) -------------------------------------

def q_keywords(top_k: int = 5) -> str:
    """TF-IDF keywords over the bm25 CTE chain (same tokenizer/idf)."""
    return f"""
WITH {bm25_ctes()},
kw AS (
  SELECT tf.doc_id, tf.term, tf.tf * terms.idf AS tfidf
  FROM tf JOIN terms USING (term)
  WHERE terms.idf > 0
), kwr AS (
  SELECT doc_id, term AS keyword, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS kw_rank
  FROM kw
)
SELECT doc_id, keyword, round(tfidf, 6) AS tfidf, kw_rank::INT AS kw_rank
FROM kwr WHERE kw_rank <= {top_k}"""


def q_entities() -> str:
    from semantik_spark.operators.extract import ENTITY_PATTERNS

    branches = " UNION ALL ".join(
        f"SELECT doc_id, '{t}' AS entity_type, "
        f"unnest(regexp_extract_all(text, '{p}', 0)) AS entity FROM aug"
        for t, p in ENTITY_PATTERNS.items()
    )
    return f"""
WITH aug AS (
  SELECT doc_id,
         text || ' Reported By Agent Smith user' || doc_id::VARCHAR ||
         '@example.com on 2026-01-15 rev 42 see https://docs.example/' ||
         doc_id::VARCHAR AS text
  FROM documents
),
mentions AS ({branches})
SELECT doc_id, entity_type, entity, count(*)::BIGINT AS n_mentions
FROM mentions GROUP BY doc_id, entity_type, entity"""


def q_pii_redact() -> str:
    """PII scan+redact oracle: rebuilds the doc_id-derived synthetic
    PII augmentation, then replays operators.pii.PII_PATTERNS counts
    (regexp_extract_all) and the ordered regexp_replace chain (RE2 and
    Java regex agree on this pattern subset)."""
    from semantik_spark.operators.pii import PII_PATTERNS

    counts = ",\n         ".join(
        f"len(regexp_extract_all(text, '{p}'))::INT AS n_{k}" for k, p in PII_PATTERNS
    )
    red = "text"
    for k, p in PII_PATTERNS:
        red = f"regexp_replace({red}, '{p}', '[{k.upper()}]', 'g')"
    total = " + ".join(f"n_{k}" for k, _ in PII_PATTERNS)
    return f"""
WITH aug AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || (doc_id % 1000)::VARCHAR || '@example.com' ELSE '' END ||
    CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad((doc_id % 900 + 100)::VARCHAR, 3, '0')
         || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' ssn ' || lpad((doc_id % 900 + 100)::VARCHAR, 3, '0')
         || '-' || lpad((doc_id % 90 + 10)::VARCHAR, 2, '0') || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         || ' host 10.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
         || '.' || ((doc_id * 13) % 256)::VARCHAR ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN ' card ' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         || '-' || lpad(((doc_id * 3) % 10000)::VARCHAR, 4, '0')
         || '-' || lpad(((doc_id * 11) % 10000)::VARCHAR, 4, '0')
         || '-' || lpad(((doc_id * 17) % 10000)::VARCHAR, 4, '0') ELSE '' END AS text
  FROM documents
),
scanned AS (
  SELECT doc_id,
         {counts},
         {red} AS redacted
  FROM aug
)
SELECT doc_id, {", ".join(f"n_{k}" for k, _ in PII_PATTERNS)},
       ({total})::INT AS n_pii, ({total}) > 0 AS has_pii, redacted
FROM scanned"""


def q_lm_quality() -> str:
    """Unigram-LM oracle: per-term round(ln(tf/total), 9) summed as
    DECIMAL(28,9) (order-independent), matching
    textanalysis.unigram_logprob."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
  FROM documents
),
tc AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
tot AS (SELECT sum(tf)::DOUBLE AS total FROM tc),
lp AS (
  SELECT term, round(ln(tf / total), 9)::DECIMAL(20,9) AS lp FROM tc, tot
),
agg AS (
  SELECT doc_id, count(*)::INT AS n_tokens, sum(lp)::DECIMAL(28,9) AS slp
  FROM tok JOIN lp USING (term) GROUP BY doc_id
)
SELECT doc_id, n_tokens, round(slp::DOUBLE / n_tokens, 6) AS avg_logprob FROM agg"""


def q_dedup_sentences(min_docs: int = 2) -> str:
    """Cross-document sentence-dedup oracle: regex sentence split,
    trim+lower normalize, hash60, dup set at >= min_docs distinct docs,
    per-doc dup fractions — matches dedup.sentence_dedup_stats."""
    return f"""
WITH s1 AS (
  SELECT doc_id, s, {hash60_expr('s')} AS h
  FROM (SELECT doc_id, trim(lower(s)) AS s
        FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?] ')) AS s
              FROM documents))
  WHERE s <> ''
),
dup AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM s1 GROUP BY h)
  WHERE nd >= {min_docs}
)
SELECT s1.doc_id, count(*)::INT AS n_sentences,
       sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)::INT AS n_dup_sentences,
       round(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
FROM s1 LEFT JOIN dup ON s1.h = dup.h
GROUP BY s1.doc_id"""


def q_dataset_split(weights: tuple[int, int, int] = (80, 10, 10)) -> str:
    """Content-hash dataset split oracle — matches
    training.dataset_split."""
    train, val, _ = weights
    return f"""
SELECT doc_id, ({hash60_expr("coalesce(text, '')")} % 100)::INT AS bucket,
       CASE WHEN {hash60_expr("coalesce(text, '')")} % 100 < {train} THEN 'train'
            WHEN {hash60_expr("coalesce(text, '')")} % 100 < {train + val} THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


def q_pack_sequences(seq_len: int = 256) -> str:
    """Concat-and-chunk packing oracle: the two-level Spark prefix sum
    equals a plain doc_id-ordered cumulative sum — matches
    training.pack_sequences."""
    return f"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  -- ::BIGINT matters: DuckDB's sum(BIGINT) window is HUGEINT, which
  -- pandas renders as float64 and the driver's value-hash then differs
  -- from Spark's int64 even when every value is equal
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start, (tok_start + n_tokens)::BIGINT AS tok_end,
       floor(tok_start / {seq_len})::BIGINT AS seq_first,
       floor((tok_start + n_tokens - 1) / {seq_len})::BIGINT AS seq_last,
       (CASE WHEN n_tokens = 0 THEN 0
             ELSE floor((tok_start + n_tokens - 1) / {seq_len})
                  - floor(tok_start / {seq_len}) + 1 END)::INT AS n_seqs_spanned
FROM c"""


def q_decontaminate(n: int = 2) -> str:
    """Benchmark-decontamination oracle: distinct n-word shingle
    overlap between each document and the SEARCH_QUERIES eval set —
    matches training.decontaminate."""
    return f"""
WITH {shingle_ctes('documents', n).lstrip()},
ev AS (
  SELECT list_filter(regexp_split_to_array(lower(query_text), '\\s+'),
                     t -> length(t) > 0) AS toks
  FROM {queries_values_sql(SEARCH_QUERIES)}
),
evsh AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(toks) >= {n}
         THEN list_distinct([array_to_string(toks[i+1:i+{n}], ' ')
                             for i in range(0, greatest(len(toks)-{n}, 0)+1)])
         ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM ev
),
hits AS (
  SELECT sh.doc_id, count(*)::INT AS n_contaminated_ngrams
  FROM sh JOIN evsh USING (shingle) GROUP BY sh.doc_id
)
SELECT d.doc_id, coalesce(h.n_contaminated_ngrams, 0)::INT AS n_contaminated_ngrams,
       coalesce(h.n_contaminated_ngrams, 0) > 0 AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)"""


def q_pca_spectrum(squarings: int = 14) -> str:
    """PCA spectrum oracle (M7 value check, VERDICT r3 item 3).

    Verifies the distributed PCA solve through sign/rotation-invariant
    scalars: top-2 eigenvalues of the sample covariance of the 64-dim
    embeddings, explained-variance ratios, total variance (trace), and
    top-2 reconstruction residual. The eigensolve is done in pure SQL
    with deterministic power iteration via repeated matrix squaring:
    C^(2^squarings) applied to the all-ones vector gives the dominant
    eigenvector to ~(l2/l1)^(2^squarings) relative error (measured
    spectra have l2/l1 <= 0.988, so 2^14 drives the error below 1e-90);
    the second component comes from one Hotelling deflation and the
    same squaring ladder. Every CTE is MATERIALIZED — DuckDB inlines
    CTEs by default, and a chained-squaring tree would otherwise expand
    to 2^squarings copies of the base scan.
    """
    ctes = ["""
xs AS MATERIALIZED (SELECT row_number() OVER () AS rid, embedding FROM embeddings),
idx AS (SELECT unnest(generate_series(1, 64)) AS i),
el AS MATERIALIZED (SELECT rid, idx.i, embedding[idx.i]::DOUBLE AS v FROM xs, idx),
cov AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS c
  FROM el a JOIN el b ON a.rid = b.rid GROUP BY a.i, b.i
),
tot AS MATERIALIZED (SELECT sum(c) AS total_var FROM cov WHERE i = j),
m0 AS MATERIALIZED (SELECT i, j, c / (SELECT total_var FROM tot) AS c FROM cov)"""]
    prev = "m0"
    for k in range(1, squarings + 1):
        ctes.append(f"""
s{k} AS MATERIALIZED (SELECT a.i AS i, b.j AS j, sum(a.c * b.c) AS c
        FROM {prev} a JOIN {prev} b ON a.j = b.i GROUP BY a.i, b.j),
m{k} AS MATERIALIZED (SELECT i, j, c / (SELECT sum(c) FROM s{k} WHERE i = j) AS c FROM s{k})""")
        prev = f"m{k}"
    ctes.append(f"""
u1 AS MATERIALIZED (SELECT i, sum(c) AS u FROM {prev} GROUP BY i),
v1 AS MATERIALIZED (SELECT i, u / sqrt((SELECT sum(u * u) FROM u1)) AS v FROM u1),
l1 AS MATERIALIZED (SELECT sum(va.v * c.c * vb.v) AS l
       FROM cov c JOIN v1 va ON va.i = c.i JOIN v1 vb ON vb.i = c.j),
d0 AS MATERIALIZED (SELECT c.i, c.j,
              (c.c - (SELECT l FROM l1) * va.v * vb.v)
                / (SELECT total_var - (SELECT l FROM l1) FROM tot) AS c
       FROM cov c JOIN v1 va ON va.i = c.i JOIN v1 vb ON vb.i = c.j)""")
    prev = "d0"
    for k in range(1, squarings + 1):
        ctes.append(f"""
t{k} AS MATERIALIZED (SELECT a.i AS i, b.j AS j, sum(a.c * b.c) AS c
        FROM {prev} a JOIN {prev} b ON a.j = b.i GROUP BY a.i, b.j),
d{k} AS MATERIALIZED (SELECT i, j, c / (SELECT sum(c) FROM t{k} WHERE i = j) AS c FROM t{k})""")
        prev = f"d{k}"
    ctes.append(f"""
u2 AS MATERIALIZED (SELECT i, sum(c) AS u FROM {prev} GROUP BY i),
v2 AS MATERIALIZED (SELECT i, u / sqrt((SELECT sum(u * u) FROM u2)) AS v FROM u2),
l2 AS MATERIALIZED (SELECT sum(va.v * c.c * vb.v) AS l
       FROM cov c JOIN v2 va ON va.i = c.i JOIN v2 vb ON vb.i = c.j)""")
    return "WITH " + ",".join(ctes) + """
SELECT 1 AS component, round(l1.l, 6) AS eigenvalue,
       round(l1.l / tot.total_var, 6) AS explained,
       round(tot.total_var, 6) AS total_var,
       round(tot.total_var - l1.l - l2.l, 6) AS resid_var
FROM l1, l2, tot
UNION ALL
SELECT 2, round(l2.l, 6), round(l2.l / tot.total_var, 6),
       round(tot.total_var, 6), round(tot.total_var - l1.l - l2.l, 6)
FROM l1, l2, tot"""


def q_repeated_passages(k: int = 10, min_docs: int = 2) -> str:
    """Twin of dedup.repeated_passages over the augmented dup corpus:
    k-token sliding-window hashes, repeated = present in >= min_docs
    distinct docs, per-doc duplicated-window fractions."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM aug_docs
),
w AS (
  SELECT doc_id, {hash60_expr("w")} AS h
  FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= {k}
           THEN list_transform(range(0, greatest(len(toks) - {k}, 0) + 1),
                               i -> array_to_string(toks[i + 1:i + {k}], ' '))
           ELSE []::VARCHAR[] END) AS w
    FROM t) s
),
dup AS (
  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}
),
per AS (
  SELECT w.doc_id, count(*)::BIGINT AS n_windows,
         sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM w LEFT JOIN dup d ON w.h = d.h
  GROUP BY w.doc_id
)
SELECT a.doc_id, coalesce(per.n_windows, 0)::BIGINT AS n_windows,
       coalesce(per.n_dup, 0)::BIGINT AS n_dup_windows,
       round(CASE WHEN coalesce(per.n_windows, 0) > 0
                  THEN per.n_dup::DOUBLE / per.n_windows ELSE 0.0 END, 6) AS dup_frac
FROM aug_docs a LEFT JOIN per ON a.doc_id = per.doc_id"""


def _dup_span_ctes(k: int, min_docs: int) -> str:
    """Shared CTE chain for the exact-substring span family: token
    arrays -> k-token window hashes -> dup windows -> per-doc maximal
    spans (islands). Ends with ``islands(doc_id, start, end, span_id)``
    and keeps ``t(doc_id, toks)`` in scope for downstream CTEs."""
    return f"""t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM aug_docs
),
w AS (
  SELECT doc_id, i + 1 AS start, {hash60_expr("wtext")} AS h
  FROM (
    SELECT doc_id, unnest(CASE WHEN len(toks) >= {k}
                               THEN range(0, greatest(len(toks) - {k}, 0) + 1)
                               ELSE []::BIGINT[] END) AS i,
           toks
    FROM t) s,
  LATERAL (SELECT array_to_string(toks[i + 1:i + {k}], ' ') AS wtext) x
),
dup AS (
  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}
),
dw AS (
  SELECT w.doc_id, w.start, w.start + {k - 1} AS "end"
  FROM w JOIN dup USING (h)
),
flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN start > coalesce(
                  max("end") OVER (PARTITION BY doc_id ORDER BY start
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1,
                  -1)
              THEN 1 ELSE 0 END AS is_new
  FROM dw
),
islands AS (
  SELECT doc_id, start, "end",
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM flagged
)"""


def q_duplicate_spans(k: int = 10, min_docs: int = 2) -> str:
    """Twin of dedup.duplicate_spans: dup k-token windows merged into
    maximal per-doc token spans (islands over start positions)."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{_dup_span_ctes(k, min_docs)}
SELECT doc_id, span_id::INT AS span_id,
       min(start)::BIGINT AS start_token,
       max("end")::BIGINT AS end_token,
       (max("end") - min(start) + 1)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_windows
FROM islands GROUP BY doc_id, span_id"""


def q_cut_spans(k: int = 10, min_docs: int = 2) -> str:
    """Twin of dedup.cut_spans: the cleaned corpus after every
    duplicated span is removed from every document."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{_dup_span_ctes(k, min_docs)},
spans AS (
  SELECT doc_id, min(start) AS s, max("end") AS e
  FROM islands GROUP BY doc_id, span_id
),
pos AS (
  SELECT doc_id, toks,
         unnest(CASE WHEN len(toks) > 0 THEN range(1, len(toks) + 1)
                     ELSE []::BIGINT[] END) AS p
  FROM t
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.toks[pos.p] AS tok
  FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = pos.doc_id
                      AND pos.p BETWEEN sp.s AND sp.e)
),
kc AS (
  SELECT doc_id, count(*) AS n, string_agg(tok, ' ' ORDER BY p) AS txt
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       len(t.toks)::BIGINT AS n_tokens_before,
       (len(t.toks) - coalesce(kc.n, 0))::BIGINT AS n_tokens_removed,
       coalesce(kc.n, 0)::BIGINT AS n_tokens_after,
       coalesce(kc.txt, '') AS cleaned_text
FROM t LEFT JOIN kc USING (doc_id)"""


def q_nb_classify(holdout_mod: int = 5, label_col: str = "lang") -> str:
    """Twin of classify.naive_bayes_classify: multinomial NB trained on
    doc_id % holdout_mod != 0, scored on the held-out rest. Per-token
    log-likelihoods and priors are round(ln(..), 6)::DECIMAL(12,6) so
    the per-doc score is an exact decimal sum — argmax cannot flip on
    float summation order in either engine."""
    tokenize = (
        f"list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'), "
        f"t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t))"
    )
    return f"""
WITH tr AS (
  SELECT doc_id, {label_col} AS label, {tokenize} AS toks
  FROM documents WHERE doc_id % {holdout_mod} != 0
),
te AS (
  SELECT doc_id, {label_col} AS label, {tokenize} AS toks
  FROM documents WHERE doc_id % {holdout_mod} = 0
),
trtok AS (SELECT label, unnest(toks) AS term FROM tr),
tc AS (SELECT label, term, count(*)::BIGINT AS cnt FROM trtok GROUP BY label, term),
lt AS (SELECT label, sum(cnt)::BIGINT AS n_tok FROM tc GROUP BY label),
voc AS (SELECT DISTINCT term FROM tc),
vs AS (SELECT count(*)::BIGINT AS v FROM voc),
cls AS (SELECT label, count(*)::BIGINT AS n_docs FROM tr GROUP BY label),
model AS (
  SELECT c.label, voc.term,
         round(ln((coalesce(tc.cnt, 0) + 1)::DOUBLE / (lt.n_tok + vs.v)), 6)::DECIMAL(12,6) AS loglik
  FROM voc
  CROSS JOIN (SELECT label FROM cls) c
  LEFT JOIN tc ON tc.label = c.label AND tc.term = voc.term
  JOIN lt ON lt.label = c.label
  CROSS JOIN vs
),
priors AS (
  SELECT label,
         round(ln(n_docs::DOUBLE / (SELECT sum(n_docs) FROM cls)), 6)::DECIMAL(12,6) AS prior
  FROM cls
),
tetf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM te) s
  GROUP BY doc_id, term
),
sc AS (
  SELECT t.doc_id, m.label AS cand, p.prior + sum(t.tf * m.loglik) AS score_dec
  FROM tetf t
  JOIN model m USING (term)
  JOIN priors p ON p.label = m.label
  GROUP BY t.doc_id, m.label, p.prior
),
rk AS (
  SELECT doc_id, cand, score_dec,
         row_number() OVER (PARTITION BY doc_id ORDER BY score_dec DESC, cand ASC) AS rn
  FROM sc
)
SELECT te.doc_id, te.label AS label, rk.cand AS predicted,
       round(rk.score_dec, 4)::DOUBLE AS score,
       (CASE WHEN rk.cand = te.label THEN 1 ELSE 0 END)::INT AS correct
FROM rk JOIN te ON rk.doc_id = te.doc_id
WHERE rk.rn = 1"""


def _l2_expr(a: str, b: str) -> str:
    """Squared L2 as an elementwise zip-sum (same term sequence as
    similarity._l2's fold)."""
    return (f"list_aggregate(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')")


def q_knn_pq(k: int = 5, dim: int = 64, m: int = 8, n_centroids: int = 16,
             rescore_k: int = 20, refine_iters: int = 1) -> str:
    """Twin of similarity.knn_pq: per-subspace codebooks seeded from the
    smallest-id corpus vectors' subvectors, refined by squared-L2 Lloyd
    steps with 6dp-rounded means, codes by L2 argmin (tie -> smaller
    cid), reconstruct, approximate-cosine rank, exact rescore."""
    d = dim // m
    refine = []
    prev = "seed"
    for i in range(refine_iters):
        nxt = "cb" if i == refine_iters - 1 else f"cb{i + 1}"
        refine.append(f"""
passign{i} AS (
  SELECT vec_id, s, sv, cid FROM (
    SELECT subv.vec_id, subv.s, subv.sv, {prev}.cid,
           row_number() OVER (PARTITION BY subv.vec_id, subv.s
                              ORDER BY {_l2_expr("subv.sv", f"{prev}.cv")} ASC, {prev}.cid ASC) AS rn
    FROM subv JOIN {prev} ON {prev}.s = subv.s) WHERE rn = 1),
pmeans{i} AS (
  SELECT s, cid, list(mv ORDER BY dim) AS cv FROM (
    SELECT s, cid, dim, round(sum(val) / count(*), 6) AS mv
    FROM (SELECT s, cid, unnest(sv) AS val,
                 unnest(range(1, len(sv) + 1)) AS dim FROM passign{i})
    GROUP BY s, cid, dim) GROUP BY s, cid),
{nxt} AS (
  SELECT sd.s, sd.cid, coalesce(p.cv, sd.cv) AS cv
  FROM {prev} sd LEFT JOIN pmeans{i} p ON p.s = sd.s AND p.cid = sd.cid)""")
        prev = nxt
    refine_sql = ",".join(refine)
    alias = "" if refine_iters else ",\ncb AS (SELECT * FROM seed)"
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
subv AS (
  SELECT vec_id, s, list_slice(v, s * {d} + 1, (s + 1) * {d}) AS sv
  FROM corpus CROSS JOIN (SELECT unnest(range({m})) AS s) ss),
seed AS (
  SELECT s, vec_id AS cid, sv AS cv FROM subv
  WHERE vec_id IN (SELECT vec_id FROM corpus ORDER BY vec_id LIMIT {n_centroids})){"," if refine_sql else ""}{refine_sql}{alias},
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT subv.vec_id, subv.s, cb.cid,
           row_number() OVER (PARTITION BY subv.vec_id, subv.s
                              ORDER BY {_l2_expr("subv.sv", "cb.cv")} ASC, cb.cid ASC) AS rn
    FROM subv JOIN cb ON cb.s = subv.s) WHERE rn = 1),
recon AS (
  SELECT codes.vec_id, flatten(list(cb.cv ORDER BY codes.s)) AS rv
  FROM codes JOIN cb ON cb.s = codes.s AND cb.cid = codes.cid
  GROUP BY codes.vec_id),
approx AS (
  SELECT q.query_id, recon.vec_id, {cosine_expr("recon.rv", "q.qv")} AS acos
  FROM recon CROSS JOIN q),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id ASC) AS arank
    FROM approx) WHERE arank <= {rescore_k}),
exact AS (
  SELECT c2.query_id, c2.vec_id, {cosine_expr("corpus.v", "q.qv")} AS cos
  FROM cand c2 JOIN corpus ON c2.vec_id = corpus.vec_id JOIN q ON c2.query_id = q.query_id),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM exact)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def q_more_like_this(seed_mod: int = 100, k: int = 10, top_terms: int = 16) -> str:
    """Twin of bm25.more_like_this: seeds = doc_id % seed_mod == 0,
    each seed keeps its top_terms strongest postings (weight desc, term
    asc), similarity = BM25-vector dot product over shared terms,
    self-pairs excluded, top-k per seed (ties -> doc_id asc)."""
    return f"""
WITH {bm25_ctes().lstrip()},
seed_terms AS (
  SELECT doc_id AS seed_id, term, weight AS seed_weight FROM (
    SELECT doc_id, term, weight,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY weight DESC, term ASC) AS trank
    FROM post WHERE doc_id % {seed_mod} = 0) s
  WHERE trank <= {top_terms}),
scored AS (
  SELECT st.seed_id, post.doc_id, sum(post.weight * st.seed_weight) AS score
  FROM post JOIN seed_terms st USING (term)
  WHERE post.doc_id != st.seed_id
  GROUP BY st.seed_id, post.doc_id),
rk AS (
  SELECT seed_id, doc_id, score,
         row_number() OVER (PARTITION BY seed_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT seed_id, doc_id, round(score, 6) AS score, rank::INT AS rank
FROM rk WHERE rank <= {k}"""


def q_doc_clusters(n_centroids: int = 16, refine_iters: int = 1) -> str:
    """Twin of similarity.cluster_profile: identical centroid seeding +
    Lloyd refinement as q_knn_ivf (per-dim means rounded 6 dp), then
    nearest-centroid assignment with its cosine kept, aggregated per
    cluster."""
    refine = []
    prev = "cent0"
    for i in range(refine_iters):
        nxt = "cent" if i == refine_iters - 1 else f"cent{i + 1}"
        refine.append(f"""
rassign{i} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT corpus.vec_id, corpus.v, {prev}.cid,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", f"{prev}.cv")} DESC, {prev}.cid ASC) AS rn
    FROM corpus CROSS JOIN {prev}) WHERE rn = 1),
rmeans{i} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign{i})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
{nxt} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN rmeans{i} m USING (cid))""")
        prev = nxt
    refine_sql = ",".join(refine)
    alias = "" if refine_iters else ",\ncent AS (SELECT * FROM cent0)"
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT {n_centroids}){"," if refine_sql else ""}{refine_sql}{alias},
assigned AS (
  SELECT vec_id, cid AS centroid_id, cos FROM (
    SELECT corpus.vec_id, cent.cid, {cosine_expr("corpus.v", "cent.cv")} AS cos,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM corpus CROSS JOIN cent) WHERE rn = 1)
SELECT centroid_id, count(*)::BIGINT AS n_vectors, round(avg(cos), 6) AS avg_cos,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
FROM assigned GROUP BY centroid_id"""


def q_approx_distinct_hll(p: int = 8, with_exact: bool = True) -> str:
    """Twin of sketches.hll_distinct over (event_type, user_id): the
    deterministic-layout HyperLogLog — register j = hash60 mod m, rank
    via binary-string length (integer-exact in both engines), exact
    BIGINT indicator sum, one IEEE division for the raw estimate, and
    the linear-counting ln branch quantized to integer milli-counts
    (floor(x*1000+0.5), the module-standard libm carry)."""
    m = 1 << p
    w = 60 - p
    scale = w + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    c = alpha * m * m * float(1 << scale)
    h = hash60_expr("user_id")
    return f"""
WITH base AS (
  SELECT event_type AS g, {h} % {m} AS j, {h} // {m} AS r
  FROM events WHERE user_id IS NOT NULL),
rnk AS (
  SELECT g, j, CASE WHEN r = 0 THEN {w + 1}
                    ELSE {w + 1} - length(bin(r)) END AS rank
  FROM base),
regs AS (SELECT g, j, max(rank) AS mj FROM rnk GROUP BY 1, 2),
grp AS (SELECT g, sum((1::BIGINT << ({scale} - mj))::BIGINT)::BIGINT AS s_regs,
               count(*)::BIGINT AS n_regs
        FROM regs GROUP BY 1),
ex AS (SELECT event_type AS g, count(DISTINCT user_id)::BIGINT AS n_exact
       FROM events GROUP BY 1),
o AS (SELECT g, n_exact, ({m} - n_regs)::BIGINT AS v_zero,
             (s_regs + ({m} - n_regs) * (1::BIGINT << {scale}))::BIGINT AS sum_scaled
      FROM grp JOIN ex USING (g)),
e AS (SELECT *, {c!r} / sum_scaled AS e_raw FROM o),
est AS (
  SELECT *, floor((CASE WHEN e_raw <= {2.5 * m} AND v_zero > 0
                        THEN {float(m)} * ln({float(m)} / v_zero)
                        ELSE e_raw END) * 1000 + 0.5)::BIGINT AS estimate_milli
  FROM e)
SELECT g AS event_type, v_zero, sum_scaled, estimate_milli{", n_exact, round(abs(estimate_milli / 1000.0 - n_exact) / n_exact, 6) AS rel_error" if with_exact else ""}
FROM est"""


def q_sliding_uniques_hll(p: int = 8, window_days: int = 7) -> str:
    """Twin of the sliding_uniques_hll composition: per-(type, day)
    HLL registers (same deterministic layout as q_approx_distinct_hll)
    exploded onto their ``window_days`` target days, merged by
    register-wise MAX, estimated per target day; exact trailing
    distinct alongside via the same day explosion."""
    m = 1 << p
    w = 60 - p
    scale = w + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    c = alpha * m * m * float(1 << scale)
    h = hash60_expr("user_id")
    return f"""
WITH base AS MATERIALIZED (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP)::DATE AS day, user_id
  FROM events WHERE user_id IS NOT NULL),
days AS MATERIALIZED (SELECT DISTINCT event_type, day FROM base),
rnk AS (
  SELECT event_type, day, {h} % {m} AS j,
         CASE WHEN {h} // {m} = 0 THEN {w + 1}
              ELSE {w + 1} - length(bin({h} // {m})) END AS rank
  FROM base),
regs AS MATERIALIZED (
  SELECT event_type, day, j, max(rank) AS mj FROM rnk GROUP BY 1, 2, 3),
contrib AS (
  SELECT r.event_type, r.day + i::INT AS t_day, r.j, r.mj
  FROM regs r, generate_series(0, {window_days - 1}) AS s(i)),
merged AS MATERIALIZED (
  SELECT c.event_type, c.t_day, c.j, max(c.mj) AS mj
  FROM contrib c
  WHERE EXISTS (SELECT 1 FROM days d
                WHERE d.event_type = c.event_type AND d.day = c.t_day)
  GROUP BY 1, 2, 3),
grp AS (
  SELECT event_type, t_day,
         sum((1::BIGINT << ({scale} - mj))::BIGINT)::BIGINT AS s_regs,
         count(*)::BIGINT AS n_regs
  FROM merged GROUP BY 1, 2),
ex AS MATERIALIZED (
  SELECT b.event_type, b.day + i::INT AS t_day,
         count(DISTINCT b.user_id)::BIGINT AS n_exact
  FROM base b, generate_series(0, {window_days - 1}) AS s(i)
  WHERE EXISTS (SELECT 1 FROM days d
                WHERE d.event_type = b.event_type AND d.day = b.day + i::INT)
  GROUP BY 1, 2),
o AS (
  SELECT event_type, t_day, ({m} - n_regs)::BIGINT AS v_zero,
         (s_regs + ({m} - n_regs) * (1::BIGINT << {scale}))::BIGINT AS sum_scaled
  FROM grp),
e AS (SELECT *, {c!r} / sum_scaled AS e_raw FROM o)
SELECT e.event_type, strftime(e.t_day, '%Y-%m-%d') AS day, e.v_zero, e.sum_scaled,
       floor((CASE WHEN e.e_raw <= {2.5 * m} AND e.v_zero > 0
                   THEN {float(m)} * ln({float(m)} / e.v_zero)
                   ELSE e.e_raw END) * 1000 + 0.5)::BIGINT AS estimate_milli,
       ex.n_exact
FROM e JOIN ex ON ex.event_type = e.event_type AND ex.t_day = e.t_day"""


Q_TEXT_READABILITY = """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                  len(regexp_extract_all(text, '[A-Za-z]+'))) AS y
  FROM documents),
f AS (
  SELECT doc_id, w, s, y,
         CASE WHEN w > 0
              THEN round(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 6)
         END AS flesch
  FROM c)
SELECT doc_id, w::INT AS n_words, s::INT AS n_sentences, y::INT AS n_syllables,
       flesch,
       CASE WHEN flesch IS NULL THEN 'empty'
            WHEN flesch >= 80 THEN 'easy'
            WHEN flesch >= 60 THEN 'standard'
            WHEN flesch >= 30 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM f"""


Q_SOURCE_MIX = """
WITH per AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs)::BIGINT AS n_total, count(*)::BIGINT AS n_sources,
               min(n_docs)::BIGINT AS planned_n FROM per)
SELECT source, n_docs,
       round(n_docs / n_total, 6) AS share,
       round(1.0 / n_sources, 6) AS target_share,
       round((n_total / n_sources) / n_docs, 6) AS mix_weight,
       planned_n,
       round(planned_n / n_docs, 6) AS sample_rate
FROM per CROSS JOIN tot"""


def q_contamination_report(n: int = 2) -> str:
    """Eval-side contamination oracle: per SEARCH_QUERIES item, its
    shingle count, how many of its shingles occur anywhere in the
    corpus, and how many distinct corpus docs collide — matches
    training.contamination_report."""
    return f"""
WITH {shingle_ctes('documents', n).lstrip()},
ev AS (
  SELECT query_id AS eval_id,
         list_filter(regexp_split_to_array(lower(query_text), '\\s+'),
                     t -> length(t) > 0) AS toks
  FROM {queries_values_sql(SEARCH_QUERIES)}
),
evsh AS (
  SELECT DISTINCT eval_id, unnest(
    CASE WHEN len(toks) >= {n}
         THEN list_distinct([array_to_string(toks[i+1:i+{n}], ' ')
                             for i in range(0, greatest(len(toks)-{n}, 0)+1)])
         ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM ev
),
totals AS (SELECT eval_id, count(*)::INT AS n_eval_ngrams FROM evsh GROUP BY eval_id),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
hits AS (
  SELECT evsh.eval_id,
         count(DISTINCT evsh.shingle)::INT AS n_hit_ngrams,
         count(DISTINCT dsh.doc_id)::BIGINT AS n_docs_hit
  FROM dsh JOIN evsh USING (shingle)
  GROUP BY evsh.eval_id)
SELECT t.eval_id, t.n_eval_ngrams,
       coalesce(h.n_hit_ngrams, 0)::INT AS n_hit_ngrams,
       round(coalesce(h.n_hit_ngrams, 0) / t.n_eval_ngrams, 6) AS hit_frac,
       coalesce(h.n_docs_hit, 0)::BIGINT AS n_docs_hit
FROM totals t LEFT JOIN hits h USING (eval_id)"""


def q_approx_distinct_daily(k: int = 64) -> str:
    """Time-bucketed KMV distinct (sketches.kmv_distinct): group =
    event_type || '|' || day. The day string comes from the naive
    timestamp's date — identical to Spark's to_date under the
    session-UTC pin."""
    h = hash60_expr("user_id")
    space = float(2**60)
    est = f"CASE WHEN sk.n_sketch < {k} THEN sk.n_sketch::DOUBLE ELSE {float(k - 1)} / sk.u_k END"
    return f"""
WITH base AS (
  SELECT event_type || '|' || strftime(ts::TIMESTAMP, '%Y-%m-%d') AS g,
         ({h} + 1) / {space!r} AS u
  FROM events),
du AS (SELECT DISTINCT g, u FROM base),
rk AS (SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u ASC) AS rn FROM du),
sk AS (SELECT g, count(*) AS n_sketch, max(u) AS u_k FROM rk WHERE rn <= {k} GROUP BY g),
ex AS (SELECT g, count(*) AS n_exact FROM du GROUP BY g)
SELECT split_part(ex.g, '|', 1) AS event_type,
       split_part(ex.g, '|', 2) AS day,
       ex.n_exact::BIGINT AS n_exact, sk.n_sketch::INT AS n_sketch,
       round({est}, 6) AS kmv_estimate,
       round(abs({est} - ex.n_exact) / ex.n_exact, 6) AS rel_error
FROM sk JOIN ex ON sk.g = ex.g"""


def q_cluster_keywords(n_clusters: int = 8, top_terms: int = 5) -> str:
    """Cluster labeling oracle: seeded (smallest-doc_id) mock-embedding
    centroids, nearest-centroid assignment (cosine, tie → smaller cid),
    BM25-tokenized term counts per cluster, distinctiveness score
    tf·ln(1 + n_clusters/ncw), top terms per cluster — matches
    __spark_entry__.q_cluster_keywords."""
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM documents
),
dindex AS (SELECT doc_id, {mock_embed_expr('text')} AS e FROM documents),
cent0 AS (SELECT doc_id AS cid, e AS cv FROM dindex ORDER BY doc_id LIMIT {n_clusters}),
assigned AS (
  SELECT doc_id, cid AS centroid_id FROM (
    SELECT dindex.doc_id, cent0.cid,
           row_number() OVER (PARTITION BY dindex.doc_id
                              ORDER BY {cosine_expr('dindex.e', 'cent0.cv')} DESC, cent0.cid ASC) AS rn
    FROM dindex CROSS JOIN cent0) WHERE rn = 1),
tterm AS (SELECT doc_id, unnest(tokens) AS term FROM tokd),
ct AS (SELECT centroid_id, term, count(*)::BIGINT AS tf
       FROM tterm JOIN assigned USING (doc_id) GROUP BY 1, 2),
cw AS (SELECT term, count(DISTINCT centroid_id)::BIGINT AS ncw FROM ct GROUP BY term),
sc AS (SELECT centroid_id, term, tf, ncw,
              round(tf * ln(1.0 + {float(n_clusters)} / ncw), 6) AS score
       FROM ct JOIN cw USING (term)),
rk AS (SELECT *, row_number() OVER (PARTITION BY centroid_id
                                    ORDER BY score DESC, term ASC) AS rank FROM sc)
SELECT centroid_id, term, tf, ncw AS n_clusters_with_term, score, rank::INT AS rank
FROM rk WHERE rank <= {top_terms}"""


def q_doc_outliers(n_centroids: int = 16, refine_iters: int = 1,
                   z_threshold: float = -2.0) -> str:
    """Twin of similarity.embedding_outliers: same centroid chain as
    q_doc_clusters, cosine rounded to 6 dp into exact-DECIMAL moments,
    z-scored per cluster, flagged below z_threshold."""
    refine = []
    prev = "cent0"
    for i in range(refine_iters):
        nxt = "cent" if i == refine_iters - 1 else f"cent{i + 1}"
        refine.append(f"""
rassign{i} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT corpus.vec_id, corpus.v, {prev}.cid,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", f"{prev}.cv")} DESC, {prev}.cid ASC) AS rn
    FROM corpus CROSS JOIN {prev}) WHERE rn = 1),
rmeans{i} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign{i})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
{nxt} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN rmeans{i} m USING (cid))""")
        prev = nxt
    refine_sql = ",".join(refine)
    alias = "" if refine_iters else ",\ncent AS (SELECT * FROM cent0)"
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT {n_centroids}){"," if refine_sql else ""}{refine_sql}{alias},
assigned AS (
  SELECT vec_id, cid AS centroid_id, round(cos, 6) AS cos8 FROM (
    SELECT corpus.vec_id, cent.cid, {cosine_expr("corpus.v", "cent.cv")} AS cos,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM corpus CROSS JOIN cent) WHERE rn = 1),
stats AS (
  SELECT centroid_id, count(*)::BIGINT AS n,
         sum(cos8::DECIMAL(28,6)) AS s1,
         sum((cos8::DECIMAL(28,6) * cos8::DECIMAL(28,6))::DECIMAL(38,12)) AS s2
  FROM assigned GROUP BY centroid_id),
st2 AS (
  SELECT centroid_id, n, s1::DOUBLE / n AS mean,
         sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n) / (n - 1)) AS sd
  FROM stats)
SELECT a.vec_id, a.centroid_id,
       round(a.cos8, 6) AS cos, round(mean, 6) AS mean, round(sd, 6) AS sd,
       round((a.cos8 - mean) / sd, 6) AS z
FROM assigned a JOIN st2 USING (centroid_id)
WHERE n >= 2 AND sd > 0 AND (a.cos8 - mean) / sd < {z_threshold}"""


def q_hybrid_weighted(k: int = 10, search_k: int = 20, w_dense: float = 0.5) -> str:
    """Twin of search.weighted_fusion over the hybrid_rrf branch
    searches: per-branch min-max normalization over each query's
    candidate list (all-equal lists → 1.0), weighted sum with absent
    branches contributing 0, rank on the 6-dp-rounded fused score."""
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, search_k)},
{mock_dense_ctes(SEARCH_QUERIES, search_k).lstrip()},
dtop AS (SELECT query_id, doc_id, score FROM dranked WHERE rank <= {search_k}),
stop_ AS (SELECT query_id, doc_id, score FROM ranked WHERE rank <= {search_k}),
dn AS (
  SELECT query_id, doc_id,
         CASE WHEN max(score) OVER (PARTITION BY query_id) > min(score) OVER (PARTITION BY query_id)
              THEN (score - min(score) OVER (PARTITION BY query_id))
                   / (max(score) OVER (PARTITION BY query_id) - min(score) OVER (PARTITION BY query_id))
              ELSE 1.0 END AS dnorm
  FROM dtop),
sn AS (
  SELECT query_id, doc_id,
         CASE WHEN max(score) OVER (PARTITION BY query_id) > min(score) OVER (PARTITION BY query_id)
              THEN (score - min(score) OVER (PARTITION BY query_id))
                   / (max(score) OVER (PARTITION BY query_id) - min(score) OVER (PARTITION BY query_id))
              ELSE 1.0 END AS snorm
  FROM stop_),
fused AS (
  SELECT query_id, doc_id,
         round({w_dense} * coalesce(dnorm, 0.0) + {1.0 - w_dense} * coalesce(snorm, 0.0), 6) AS score
  FROM dn FULL OUTER JOIN sn USING (query_id, doc_id)),
franked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM fused)
SELECT query_id, doc_id, score, rank::INT AS rank FROM franked WHERE rank <= {k}"""


# --- round-4 additions: profiling / islands / zipf / bins / negatives / graph


def q_profile_table(cols: tuple[str, ...] = (
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey")) -> str:
    """Twin of profiling.profile_columns over lineitem."""
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{c}' AS column_name,
       count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::DOUBLE AS min_val,
       max({c})::DOUBLE AS max_val,
       round(avg({c}::DOUBLE), 6) AS avg_val
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


def q_state_islands() -> str:
    """Twin of timeseries.state_islands (gaps-and-islands RLE)."""
    return """
WITH f AS (
  SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
i AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)::BIGINT AS island
  FROM f
)
SELECT user_id, island, min(event_type) AS event_type,
       count(*)::BIGINT AS n_events,
       epoch_us(min(ts))::BIGINT AS start_us,
       epoch_us(max(ts))::BIGINT AS end_us
FROM i GROUP BY user_id, island"""


def q_zipf_fit(top_n: int = 1000) -> str:
    """Twin of textanalysis.zipf_fit — same raw tokenizer, same
    (cnt DESC, term ASC) rank, same SQL regression aggregates."""
    return f"""
WITH tk AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS term
  FROM documents
),
cnt AS (SELECT term, count(*)::DOUBLE AS cnt FROM tk GROUP BY term),
top_ AS (SELECT term, cnt FROM cnt ORDER BY cnt DESC, term ASC LIMIT {top_n}),
rk AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC)::DOUBLE AS rank
  FROM top_
)
SELECT count(*)::BIGINT AS n_terms,
       round(regr_slope(ln(cnt), ln(rank)), 6) AS slope,
       round(regr_intercept(ln(cnt), ln(rank)), 6) AS intercept,
       round(regr_r2(ln(cnt), ln(rank)), 6) AS r2
FROM rk"""


def q_length_bins(n_bins: int = 16) -> str:
    """Twin of training.length_bins (sum casts to BIGINT — DuckDB sums
    BIGINT into HUGEINT, the pack_sequences lesson)."""
    return f"""
WITH tk AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> length(x) > 0))::BIGINT AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens,
         ntile({n_bins}) OVER (ORDER BY n_tokens, doc_id)::BIGINT AS bin
  FROM tk
)
SELECT bin, count(*)::BIGINT AS n_docs,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       sum(n_tokens)::BIGINT AS sum_tokens,
       (count(*) * max(n_tokens) - sum(n_tokens))::BIGINT AS pad_waste
FROM b GROUP BY bin"""


def q_hard_negatives(k: int = 10, n: int = 5, min_grade: int = 1) -> str:
    """Twin of metrics.hard_negatives over the ir_metrics inputs."""
    return f"""
WITH {bm25_search_ctes(IR_QUERY_TERMS, k)},
retrieved AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {k}),
qrels AS (
  SELECT q.query_id, tf.doc_id, least(3, tf.tf) AS grade
  FROM tf JOIN (SELECT query_id, query_text AS term
                FROM {queries_values_sql(IR_QUERY_TERMS)}) q USING (term)
),
neg AS (
  SELECT r.query_id, r.doc_id, r.rank FROM retrieved r
  WHERE NOT EXISTS (SELECT 1 FROM qrels qr
                    WHERE qr.grade >= {min_grade} AND qr.query_id = r.query_id
                      AND qr.doc_id = r.doc_id)
),
nrk AS (
  SELECT query_id, doc_id, rank,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS neg_rank
  FROM neg
)
SELECT query_id, doc_id, rank::INT AS rank, neg_rank::INT AS neg_rank
FROM nrk WHERE neg_rank <= {n}"""


def q_knn_pagerank(k: int = 5, damping: float = 0.85,
                   iterations: int = 5) -> str:
    """Twin of graph.pagerank over graph.knn_graph_edges: k-NN edge
    build (exact cosine, ties -> smaller dst), then ``iterations``
    chained power-step CTEs. The (1 - d) base term is precomputed in
    Python and emitted as its exact double repr (DuckDB decimal-literal
    arithmetic gives exactly 0.15 where the Python double 1.0 - 0.85 is
    0.15000000000000002 — a ~2-ulp divergence per iteration otherwise),
    so the uniform-start iteration is bit-comparable; damping < 1 keeps
    summation-order noise contracted below the 6 dp round."""
    d = f"{repr(damping)}::DOUBLE"
    base = f"{repr(1.0 - damping)}::DOUBLE"
    its = []
    prev = "pr0"
    for i in range(1, iterations + 1):
        cur = f"pr{i}"
        its.append(f""",
{cur} AS (
  SELECT nodes.id,
         {base} / (SELECT n FROM nn)
           + {d} * coalesce(sum(p.pr / dg.out_deg), 0.0) AS pr
  FROM nodes
  LEFT JOIN edges e ON e.dst = nodes.id
  LEFT JOIN deg dg ON dg.src = e.src
  LEFT JOIN {prev} p ON p.id = e.src
  GROUP BY nodes.id
)""")
        prev = cur
    return f"""
WITH {knn_edges_ctes(k)},
nodes AS (SELECT vec_id AS id FROM corpus),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS out_deg FROM edges GROUP BY src),
pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes){''.join(its)}
SELECT id, round(pr * (SELECT n FROM nn), 6) AS pr FROM {prev}"""


def q_knn_ppr(k: int = 5, damping: float = 0.85, iterations: int = 5,
              seed_mod: int = 50, seed_rem: int = 10) -> str:
    """Twin of graph.personalized_pagerank over the kNN graph: the
    restart vector lands on seeds (vec_id % seed_mod == seed_rem)
    instead of uniformly — same base-term exact-double-repr trick as
    q_knn_pagerank."""
    d = f"{repr(damping)}::DOUBLE"
    base = f"{repr(1.0 - damping)}::DOUBLE"
    its = []
    prev = "pr0"
    for i in range(1, iterations + 1):
        cur = f"pr{i}"
        its.append(f""",
{cur} AS (
  SELECT nodes.id,
         (CASE WHEN s.id IS NOT NULL THEN {base} / (SELECT n FROM ns)
               ELSE 0.0 END)
           + {d} * coalesce(sum(p.pr / dg.out_deg), 0.0) AS pr
  FROM nodes
  LEFT JOIN seeds s ON s.id = nodes.id
  LEFT JOIN edges e ON e.dst = nodes.id
  LEFT JOIN deg dg ON dg.src = e.src
  LEFT JOIN {prev} p ON p.id = e.src
  GROUP BY nodes.id, s.id
)""")
        prev = cur
    return f"""
WITH {knn_edges_ctes(k)},
nodes AS (SELECT vec_id AS id FROM corpus),
seeds AS (SELECT vec_id AS id FROM corpus
          WHERE vec_id % {seed_mod} = {seed_rem}),
ns AS (SELECT count(*)::DOUBLE AS n FROM seeds),
deg AS (SELECT src, count(*)::DOUBLE AS out_deg FROM edges GROUP BY src),
pr0 AS (
  SELECT nodes.id,
         CASE WHEN s.id IS NOT NULL THEN 1.0 / (SELECT n FROM ns)
              ELSE 0.0 END AS pr
  FROM nodes LEFT JOIN seeds s ON s.id = nodes.id){''.join(its)}
SELECT id, round(pr, 6) AS ppr FROM {prev}"""


def knn_edges_ctes(k: int = 5) -> str:
    """Shared CTE chain producing ``edges(src, dst)`` = the directed
    k-NN cosine graph over embeddings (twin of graph.knn_graph_edges)."""
    return f"""
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
escore AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {cosine_expr('a.v', 'b.v')} AS cos
  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
),
erank AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rank
  FROM escore
),
edges AS (SELECT src, dst FROM erank WHERE rank <= {k})"""


def q_knn_triangles(k: int = 5, top_k: int = 20) -> str:
    """Twin of graph.triangle_counts over graph.knn_graph_edges."""
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
),
pn AS (
  SELECT id, count(*)::BIGINT AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS id FROM tri) s
  GROUP BY id
)
SELECT id, n_triangles FROM pn
ORDER BY n_triangles DESC, id ASC LIMIT {top_k}"""


def q_knn_link_prediction(k: int = 5, top_k: int = 20) -> str:
    """Twin of graph.adamic_adar_links over graph.knn_graph_edges:
    wedges through a common neighbor, existing-edge anti-join, per-
    center 1/ln(deg) quantized to micro-units before the sum."""
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
adj AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
term AS (
  SELECT u AS z, count(*)::BIGINT AS deg,
         floor(1000000.0 / ln(count(*)::DOUBLE) + 0.5)::BIGINT AS term_micro
  FROM adj GROUP BY u
),
wedges AS (
  SELECT l.z, l.a, r.b FROM
    (SELECT v AS z, u AS a FROM adj) l
    JOIN (SELECT v AS z, u AS b FROM adj) r ON l.z = r.z
  WHERE l.a < r.b
),
non_edges AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = w.a AND und.v = w.b)
),
scored AS (
  SELECT a AS node_a, b AS node_b, count(*)::BIGINT AS common_neighbors,
         sum(term_micro)::BIGINT AS aa_micro
  FROM non_edges JOIN term USING (z) WHERE term.deg >= 2
  GROUP BY 1, 2
)
SELECT * FROM scored ORDER BY aa_micro DESC, node_a ASC, node_b ASC LIMIT {top_k}"""


def q_knn_assortativity(k: int = 5) -> str:
    """Twin of graph.degree_assortativity over graph.knn_graph_edges:
    exact integer moments, one sqrt + one division (both
    correctly-rounded IEEE)."""
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
adj AS (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
),
deg AS (SELECT u AS node, count(*)::BIGINT AS deg FROM adj GROUP BY u),
pairs AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM adj JOIN deg dx ON adj.u = dx.node JOIN deg dy ON adj.v = dy.node
),
m AS (
  SELECT count(*)::DECIMAL(19,0) AS n,
         sum(dx)::DECIMAL(19,0) AS sx, sum(dy)::DECIMAL(19,0) AS sy,
         sum(dx * dx)::DECIMAL(19,0) AS sxx,
         sum(dy * dy)::DECIMAL(19,0) AS syy,
         sum(dx * dy)::DECIMAL(19,0) AS sxy
  FROM pairs
)
SELECT (n / 2)::BIGINT AS n_edges,
       round((n * sxy - sx * sy)::DOUBLE
             / sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE),
             6) AS assortativity
FROM m"""


def q_event_assoc(gap_minutes: int = 30, min_pair: int = 5,
                  top_k: int = 20) -> str:
    """Twin of timeseries.session_associations (market-basket lift over
    gap-sessions)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP)::BIGINT AS us
  FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, us,
         CASE WHEN us - lag(us) OVER w >= {gap_us} THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), sess AS (
  SELECT user_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
  FROM flagged
), baskets AS (SELECT DISTINCT user_id AS u, sid AS s, event_type AS item FROM sess),
nb AS (SELECT count(*)::DOUBLE AS n_baskets FROM (SELECT DISTINCT u, s FROM baskets)),
itemn AS (SELECT item, count(*)::BIGINT AS n_item FROM baskets GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_pair
  FROM baskets a JOIN baskets b ON a.u = b.u AND a.s = b.s AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {min_pair}
)
SELECT item_a, item_b, n_pair, na.n_item AS n_a, nb2.n_item AS n_b,
       round(n_pair / (SELECT n_baskets FROM nb), 6) AS support,
       round(n_pair * (SELECT n_baskets FROM nb) / (na.n_item * nb2.n_item), 6) AS lift
FROM pairs
JOIN itemn na ON na.item = item_a
JOIN itemn nb2 ON nb2.item = item_b
ORDER BY lift DESC, item_a ASC, item_b ASC
LIMIT {top_k}"""


def q_events_ewma(alpha: float = 0.3, window: int = 8) -> str:
    """Twin of timeseries.ewm_smooth: the weight literals are emitted
    with repr() of the same Python doubles the Spark side computes, and
    the lag terms are added in the same fixed order, so the arithmetic
    is bit-identical before the 6 dp round."""
    num_terms, den_terms = [], []
    for k in range(window):
        wt = repr(alpha * (1.0 - alpha) ** k)
        lagv = f"lag(value, {k}) OVER w" if k else "value"
        num_terms.append(f"coalesce({wt} * ({lagv}), 0.0)")
        den_terms.append(f"CASE WHEN ({lagv}) IS NOT NULL THEN {wt} ELSE 0.0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
SELECT event_id, epoch_us(ts::TIMESTAMP)::BIGINT AS us, value,
       round(({num}) / ({den}), 6) AS ewma
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)"""


def q_kmv_set_ops(k: int = 64) -> str:
    """Twin of sketches.kmv_set_ops (theta-style union/intersection
    estimates between event-type user sets)."""
    h = hash60_expr("user_id")
    space = float(2**60)

    def est(us: str) -> str:
        return (f"CASE WHEN len({us}) < {k} THEN len({us})::DOUBLE "
                f"ELSE {float(k - 1)} / list_max({us}) END")

    merged = f"(list_sort(list_distinct(list_concat(us_a, us_b))))[1:{k}]"
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type AS g, ({h} + 1) / {space!r} AS u FROM events
),
sk AS (SELECT g, (list_sort(array_agg(u)))[1:{k}] AS us FROM hashes GROUP BY g),
pairs AS (
  SELECT a.g AS group_a, b.g AS group_b, a.us AS us_a, b.us AS us_b
  FROM sk a JOIN sk b ON a.g < b.g
),
calc AS (
  SELECT group_a, group_b,
         {est('us_a')} AS est_a,
         {est('us_b')} AS est_b,
         {est(merged)} AS est_u
  FROM pairs
)
SELECT group_a, group_b,
       round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
       round(est_u, 6) AS est_union,
       round(greatest(est_a + est_b - est_u, 0.0), 6) AS est_intersect,
       round(greatest(est_a + est_b - est_u, 0.0) / est_u, 6) AS jaccard_est
FROM calc"""


def q_fuzzy_pairs(prefix_len: int = 12, cmp_len: int = 40,
                  max_dist: int = 5) -> str:
    """Twin of dedup.fuzzy_pairs (prefix-blocked Levenshtein) over the
    augmented dedup corpus."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
base AS (
  SELECT doc_id AS id,
         substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, {cmp_len}) AS head,
         substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, {prefix_len}) AS block
  FROM aug_docs
)
SELECT a.id AS doc_a, b.id AS doc_b,
       levenshtein(a.head, b.head)::INT AS dist
FROM base a JOIN base b ON a.block = b.block AND a.id < b.id
WHERE levenshtein(a.head, b.head) <= {max_dist}"""


def q_jaccard_prefix(n: int = 3, threshold: float = 0.5) -> str:
    """Twin of dedup.jaccard_prefix_pairs (prefix-filtered exact
    Jaccard join): df-ascending prefix candidates, exact verify."""
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{shingle_ctes("aug_docs", n).lstrip()},
freq AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle),
ranked AS (
  SELECT sh.doc_id, sh.shingle, sh.n_shingles,
         row_number() OVER (PARTITION BY sh.doc_id
                            ORDER BY f.df ASC, sh.shingle ASC) AS pos
  FROM sh JOIN freq f USING (shingle)
),
pref AS (
  SELECT doc_id, shingle FROM ranked
  WHERE pos <= n_shingles - ceil({threshold} * n_shingles) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, max(n_shingles) AS ns FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.n_common::DOUBLE / (za.ns + zb.ns - i.n_common), 6) AS jaccard
FROM inter i
JOIN sz za ON za.doc_id = i.doc_a
JOIN sz zb ON zb.doc_id = i.doc_b
WHERE i.n_common::DOUBLE / (za.ns + zb.ns - i.n_common) >= {threshold}"""


def q_weighted_sample(k: int = 50) -> str:
    """Twin of training.weighted_sample (Efraimidis-Spirakis top-k)."""
    h = hash60_expr("doc_id")
    space = float(2**60)
    return f"""
WITH keyed AS (
  SELECT doc_id, n_chars::BIGINT AS weight,
         ln(({h} + 1) / {space!r}) / n_chars AS key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, weight,
       row_number() OVER (ORDER BY key DESC, doc_id ASC)::INT AS rank
FROM keyed ORDER BY key DESC, doc_id ASC LIMIT {k}"""


def q_quantile_sketch(alpha: float = 0.02,
                      quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99)) -> str:
    """Twin of sketches.ddsketch_quantiles over events.value per
    event_type. The gamma-derived doubles come from the SAME
    ddsketch_params() call the Spark operator uses, emitted via repr so
    both engines bucket with identical literals; the rank product
    q * n_total is forced to DOUBLE on both sides (a DuckDB
    decimal-literal product would ceil differently when q*n lands just
    above an integer in double arithmetic)."""
    from semantik_spark.operators.sketches import ddsketch_params

    gamma, inv_lg, coeff = ddsketch_params(alpha)
    qrows = ", ".join(f"({float(q)!r}::DOUBLE)" for q in quantiles)
    return f"""
WITH b AS (
  SELECT event_type AS g, ceil(round(ln(value) * {inv_lg!r}, 9))::INT AS bucket,
         count(*)::BIGINT AS n
  FROM events WHERE value > 0 GROUP BY 1, 2
),
c AS (
  SELECT g, bucket,
         sum(n) OVER (PARTITION BY g ORDER BY bucket)::BIGINT AS cum,
         sum(n) OVER (PARTITION BY g)::BIGINT AS n_total
  FROM b
),
r AS (
  SELECT g, bucket, cum, n_total, q
  FROM c, (VALUES {qrows}) AS qs(q)
  WHERE cum >= greatest(1, ceil(q * n_total::DOUBLE))
)
SELECT g AS event_type, round(q, 2) AS q,
       min(n_total)::BIGINT AS n, min(bucket)::INT AS bucket,
       round({coeff!r} * power({gamma!r}, min(bucket)), 6) AS estimate
FROM r GROUP BY g, q"""


# --- BPE tokenizer (operators/tokenizer.py) --------------------------------

def _bpe_round_ctes(k: int) -> str:
    """One unrolled BPE training round: pair counts on state{k-1} →
    deterministic argmax → greedy non-overlapping merge rewrite.
    Mirrors tokenizer._pair_counts/_apply_merge expression-for-
    expression (running-match-count islands, even-offset keep)."""
    p = k - 1
    return f"""
pairs{k} AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {{'l': syms[i], 'r': syms[i+1]}})) AS p
    FROM state{p}
  ) GROUP BY 1, 2
),
best{k} AS (
  SELECT l, r, cnt FROM pairs{k} ORDER BY cnt DESC, l, r LIMIT 1
),
mm{k} AS (
  SELECT e.word, e.freq, e.pos, e.sym,
         CASE WHEN e.sym = b.l AND e.nxt = b.r THEN 1 ELSE 0 END AS m,
         b.l AS bl, b.r AS br
  FROM (
    SELECT word, freq, pos, sym,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM (SELECT word, freq, unnest(range(0, len(syms))) AS pos,
                 unnest(syms) AS sym FROM state{p})
  ) e CROSS JOIN best{k} b
),
kp{k} AS (
  SELECT *, (m = 1 AND (rnm - MIN(rnm) OVER (PARTITION BY word, grp)) % 2 = 0) AS keep
  FROM (
    SELECT *, CASE WHEN m = 1 THEN pos - rnm END AS grp FROM (
      SELECT *, SUM(m) OVER (PARTITION BY word ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS rnm
      FROM mm{k})
  )
),
state{k} AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN keep THEN bl || br ELSE sym END ORDER BY pos) AS syms
  FROM (SELECT *, COALESCE(lag(keep) OVER (PARTITION BY word ORDER BY pos),
                           FALSE) AS prev_keep FROM kp{k})
  WHERE NOT prev_keep
  GROUP BY word, freq
)"""


def bpe_ctes(num_merges: int = 8, doc_table: str = "documents",
             text_col: str = "text") -> str:
    """CTE chain: wf → state0 → (pairs/best/state)×num_merges — a full
    unrolled replay of tokenizer.bpe_train (word regex ``[a-z]+``,
    char split + '</w>' end-of-word symbol, argmax tie-break
    (cnt DESC, l, r))."""
    base = f"""
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS word
        FROM {doc_table})
  GROUP BY word
),
state0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(list_transform(range(1, length(word)+1),
                     i -> substr(word, i, 1)), '</w>') AS syms
  FROM wf
)"""
    return base + "," + ",".join(_bpe_round_ctes(k) for k in range(1, num_merges + 1))


def _wp_round_ctes(k: int) -> str:
    """One unrolled WordPiece training round: symbol unigram counts +
    pair counts on state{k-1} → likelihood argmax (cnt/(cl·cr) as ONE
    IEEE division of exact BIGINTs, ties (l, r) ASC) → greedy
    non-overlapping rewrite to the '##'-stripped merged piece. Mirrors
    tokenizer.wordpiece_train round-for-round; the rewrite machinery is
    _bpe_round_ctes' islands expression with bm in place of bl||br."""
    p = k - 1
    return f"""
uni{k} AS (
  SELECT sym, CAST(SUM(freq) AS BIGINT) AS ucnt
  FROM (SELECT freq, unnest(syms) AS sym FROM state{p}) GROUP BY 1
),
pairs{k} AS MATERIALIZED (
  SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {{'l': syms[i], 'r': syms[i+1]}})) AS p
    FROM state{p}
  ) GROUP BY 1, 2
),
best{k} AS (
  SELECT p.l, p.r, p.cnt, (ul.ucnt * ur.ucnt)::BIGINT AS denom,
         p.l || CASE WHEN p.r LIKE '##%' THEN substr(p.r, 3) ELSE p.r END AS bm
  FROM pairs{k} p
  JOIN uni{k} ul ON p.l = ul.sym
  JOIN uni{k} ur ON p.r = ur.sym
  ORDER BY p.cnt::DOUBLE / (ul.ucnt * ur.ucnt) DESC, p.l, p.r LIMIT 1
),
mm{k} AS (
  SELECT e.word, e.freq, e.pos, e.sym,
         CASE WHEN e.sym = b.l AND e.nxt = b.r THEN 1 ELSE 0 END AS m,
         b.bm AS bm
  FROM (
    SELECT word, freq, pos, sym,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM (SELECT word, freq, unnest(range(0, len(syms))) AS pos,
                 unnest(syms) AS sym FROM state{p})
  ) e CROSS JOIN best{k} b
),
kp{k} AS (
  SELECT *, (m = 1 AND (rnm - MIN(rnm) OVER (PARTITION BY word, grp)) % 2 = 0) AS keep
  FROM (
    SELECT *, CASE WHEN m = 1 THEN pos - rnm END AS grp FROM (
      SELECT *, SUM(m) OVER (PARTITION BY word ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS rnm
      FROM mm{k})
  )
),
state{k} AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN keep THEN bm ELSE sym END ORDER BY pos) AS syms
  FROM (SELECT *, COALESCE(lag(keep) OVER (PARTITION BY word ORDER BY pos),
                           FALSE) AS prev_keep FROM kp{k})
  WHERE NOT prev_keep
  GROUP BY word, freq
)"""


def wordpiece_ctes(num_merges: int = 8, doc_table: str = "documents",
                   text_col: str = "text") -> str:
    """CTE chain: wf → state0 (first char plain, continuations
    '##'-prefixed, no EOW) → (uni/pairs/best/state)×num_merges — a full
    unrolled replay of tokenizer.wordpiece_train."""
    base = f"""
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS word
        FROM {doc_table})
  GROUP BY word
),
state0 AS MATERIALIZED (
  SELECT word, freq,
         list_transform(range(1, length(word)+1),
                        i -> CASE WHEN i = 1 THEN substr(word, i, 1)
                                  ELSE '##' || substr(word, i, 1) END) AS syms
  FROM wf
)"""
    return base + "," + ",".join(_wp_round_ctes(k) for k in range(1, num_merges + 1))


def q_wordpiece_encode(num_merges: int = 8, top_n: int = 30,
                       max_steps: int = 12) -> str:
    """Twin of tokenizer.wordpiece_encode_words: greedy longest-match
    (max-munch) over vocab = state0 alphabet ∪ merged pieces, unrolled
    ``max_steps`` consume steps (each step eats ≥1 char, so any word up
    to max_steps chars fully encodes). The tw CTE ENFORCES
    length(word) <= max_steps with error() so a future corpus with a
    longer frequent word aborts the oracle loudly instead of silently
    dropping its rows (the pos >= length filter would otherwise eat
    partially-encoded words while Spark still emits pieces)."""
    steps = []
    for i in range(1, max_steps + 1):
        steps.append(f"""
s{i} AS MATERIALIZED (
  SELECT word, pos, pieces FROM s{i - 1} WHERE pos >= length(word)
  UNION ALL
  SELECT word, pos + length(base) AS pos, list_append(pieces, piece) AS pieces
  FROM (
    SELECT w.word, w.pos, w.pieces, v.base, v.piece,
           row_number() OVER (PARTITION BY w.word
                              ORDER BY length(v.base) DESC, v.piece) AS rn
    FROM s{i - 1} w JOIN v
      ON w.pos < length(w.word)
     AND v.cont = (w.pos > 0)
     AND substr(w.word, w.pos + 1, length(v.base)) = v.base
  ) WHERE rn = 1
)""")
    merged_union = " UNION ".join(
        f"SELECT bm AS piece FROM best{k}" for k in range(1, num_merges + 1))
    return f"""
WITH {wordpiece_ctes(num_merges)},
vocabp AS MATERIALIZED (
  SELECT DISTINCT unnest(syms) AS piece FROM state0
  UNION {merged_union}
),
v AS MATERIALIZED (
  SELECT piece,
         CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS base,
         (piece LIKE '##%') AS cont
  FROM vocabp
),
tw AS (
  SELECT CASE WHEN length(word) > {max_steps}
              THEN error('wordpiece oracle: word ''' || word ||
                         ''' exceeds max_steps={max_steps} unroll')
              ELSE word END AS word
  FROM wf ORDER BY freq DESC, word ASC LIMIT {top_n}),
s0 AS MATERIALIZED (SELECT word, 0 AS pos, []::VARCHAR[] AS pieces FROM tw),{','.join(steps)}
SELECT word, i::INT AS piece_index, pieces[i + 1] AS piece FROM (
  SELECT word, pieces, unnest(range(0, len(pieces))) AS i FROM s{max_steps}
  WHERE pos >= length(word))
UNION ALL
-- unencodable words (stuck before consuming every char) surface as a
-- single [UNK] row, mirroring the Spark encoder
SELECT word, 0::INT AS piece_index, '[UNK]' AS piece
FROM tw WHERE word NOT IN (
  SELECT word FROM s{max_steps} WHERE pos >= length(word))"""


def q_bpe_merges(num_merges: int = 8) -> str:
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, b.l AS left_sym, "
        f"b.r AS right_sym, b.l || b.r AS merged, b.cnt AS pair_count "
        f"FROM best{k} b"
        for k in range(1, num_merges + 1)
    )
    return f"WITH {bpe_ctes(num_merges)} SELECT * FROM ({sel}) ORDER BY merge_rank"


def q_bpe_encode_words(num_merges: int = 8, top_n: int = 30) -> str:
    """The final training state IS the encoding of every training word
    (the sequential encoder replays merges in rank order) — so the
    mapInPandas encoder on the Spark side is value-checked against the
    pure-SQL training replay."""
    return f"""
WITH {bpe_ctes(num_merges)},
ranked AS (
  SELECT word, freq, syms,
         row_number() OVER (ORDER BY freq DESC, word) AS rn
  FROM state{num_merges}
)
SELECT word, freq, array_to_string(syms, ' ') AS encoded,
       CAST(len(syms) AS BIGINT) AS n_pieces
FROM ranked WHERE rn <= {top_n}"""


def unigram_ctes(vocab_size: int = 120, max_piece_len: int = 5,
                 sample_words: int = 1000, doc_table: str = "documents",
                 text_col: str = "text") -> str:
    """CTE chain replaying tokenizer.unigram_train: wf → samp (top-N
    words) → sub (every substring occurrence, freq-weighted) → counts →
    vocab (all single chars + top-M multi-char pieces, integer
    micro-nat costs)."""
    return f"""
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS word
        FROM {doc_table})
  GROUP BY word
),
samp AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rn
    FROM wf) WHERE rn <= {sample_words}
),
sub AS (
  SELECT freq, substr(word, i, l) AS piece FROM (
    SELECT word, freq, l, unnest(range(1, length(word) - l + 2)) AS i
    FROM (SELECT word, freq, unnest(range(1, {max_piece_len + 1})) AS l
          FROM samp)
    WHERE length(word) >= l)
),
counts AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM sub GROUP BY piece),
vocab0 AS MATERIALIZED (
  SELECT piece, cnt FROM counts WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
    FROM counts WHERE length(piece) > 1) WHERE rn <= {vocab_size}
),
tot AS (SELECT sum(cnt)::BIGINT AS total FROM vocab0),
vocab AS MATERIALIZED (
  SELECT piece, length(piece)::INT AS piece_len, cnt,
         CAST(floor(-ln(cnt::DOUBLE / (SELECT total FROM tot)) * 1000000
                    + 0.5) AS BIGINT) AS cost_micro
  FROM vocab0
)"""


def q_unigram_pieces(vocab_size: int = 120, max_piece_len: int = 5,
                     sample_words: int = 1000) -> str:
    return (
        f"WITH {unigram_ctes(vocab_size, max_piece_len, sample_words).lstrip()} "
        f"SELECT piece, piece_len, cnt AS count, cost_micro FROM vocab"
    )


def _viterbi_ctes(prefix: str, words_cte: str, vocab_cte: str,
                  L: int, max_piece_len: int) -> list[str]:
    """Unrolled Viterbi DP + backpointer walk over ``words_cte`` (word,
    freq) against ``vocab_cte`` (piece, cost_micro): emits CTEs
    {prefix}best0..L, {prefix}dp, {prefix}step0..L, {prefix}emis,
    {prefix}agg — reusable for the seed encode AND each hard-EM round
    (the BPE-oracle discipline: the whole lattice in pure SQL)."""
    p_ = prefix
    parts = [
        f"{p_}best0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS cost, 0 AS bp FROM {words_cte})"
    ]
    for p in range(1, L + 1):
        branches = []
        for j in range(1, min(max_piece_len, p) + 1):
            branches.append(f"""    SELECT w.word, b.cost + v.cost_micro AS cost, {j} AS bp
    FROM {words_cte} w
    JOIN {p_}best{p - j} b ON b.word = w.word
    JOIN {vocab_cte} v ON v.piece = substr(w.word, {p - j + 1}, {j})
    WHERE length(w.word) >= {p}""")
        union = "\n    UNION ALL\n".join(branches)
        parts.append(f"""{p_}best{p} AS MATERIALIZED (
  SELECT word, cost, bp FROM (
    SELECT word, cost, bp,
           row_number() OVER (PARTITION BY word ORDER BY cost, bp) AS rn
    FROM (
{union}
    )) WHERE rn = 1
)""")
    dp_union = "\n  UNION ALL\n".join(
        f"  SELECT word, {p} AS pos, cost, bp FROM {p_}best{p}"
        for p in range(1, L + 1)
    )
    parts.append(f"{p_}dp AS MATERIALIZED (\n{dp_union}\n)")
    parts.append(
        f"{p_}step0 AS MATERIALIZED (SELECT word, length(word) AS pos FROM {words_cte} "
        "WHERE length(word) > 0)"
    )
    for i in range(1, L + 1):
        parts.append(f"""{p_}step{i} AS MATERIALIZED (
  SELECT s.word, s.pos - d.bp AS pos,
         substr(s.word, s.pos - d.bp + 1, d.bp) AS piece, {i} AS ord
  FROM {p_}step{i - 1} s JOIN {p_}dp d ON d.word = s.word AND d.pos = s.pos
  WHERE s.pos > 0
)""")
    emis_union = "\n  UNION ALL\n".join(
        f"  SELECT word, piece, ord FROM {p_}step{i}" for i in range(1, L + 1)
    )
    parts.append(f"{p_}emis AS MATERIALIZED (\n{emis_union}\n)")
    parts.append(f"""{p_}agg AS (
  SELECT word, count(*)::BIGINT AS n_pieces,
         string_agg(piece, ' ' ORDER BY ord DESC) AS encoded
  FROM {p_}emis GROUP BY word
)""")
    return parts


def q_unigram_encode(vocab_size: int = 120, max_piece_len: int = 5,
                     sample_words: int = 1000, top_n: int = 30,
                     max_word_len: int = 20) -> str:
    """Twin of tokenizer.unigram_encode_words on the top-``top_n``
    sampled words (length <= ``max_word_len``): the Viterbi DP unrolled
    position-by-position — best{p} = min over piece lengths j of
    best{p-j} + cost(substr ending at p), (cost ASC, j ASC) tiebreak —
    then the backpointer walk unrolled the same way (the BPE-oracle
    discipline: the whole trainer+encoder replayed in pure SQL)."""
    L = max_word_len
    parts = [unigram_ctes(vocab_size, max_piece_len, sample_words).lstrip()]
    parts.append(f"""ew AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rn
    FROM samp WHERE length(word) <= {L}) WHERE rn <= {top_n}
)""")
    parts += _viterbi_ctes("", "ew", "vocab", L, max_piece_len)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT e.word, e.freq, a.encoded, a.n_pieces, d.cost AS cost_micro
FROM ew e
JOIN agg a ON a.word = e.word
JOIN dp d ON d.word = e.word AND d.pos = length(e.word)"""


def q_unigram_em_encode(vocab_size: int = 120, max_piece_len: int = 5,
                        sample_words: int = 1000, top_n: int = 30,
                        max_word_len: int = 20) -> str:
    """Twin of one hard-EM round (tokenizer.unigram_em_refine,
    rounds=1) followed by the eval-word encode: E-step = Viterbi over
    ALL length-capped sampled words under the seed costs (first
    unrolled lattice), usage = freq-weighted piece counts from the
    emissions; M-step = usage counts with the single-char seed floor,
    re-normalized micro-nat costs; then the top-``top_n`` words encode
    under the REFINED vocabulary (second unrolled lattice). ~90
    materialized CTEs of pure SQL — EM itself driver-hash-checkable."""
    L = max_word_len
    parts = [unigram_ctes(vocab_size, max_piece_len, sample_words).lstrip()]
    parts.append(f"""sampw AS MATERIALIZED (
  SELECT word, freq FROM samp WHERE length(word) <= {L}
)""")
    parts += _viterbi_ctes("e1", "sampw", "vocab", L, max_piece_len)
    parts.append("""usage AS MATERIALIZED (
  SELECT m.piece, sum(w.freq)::BIGINT AS usage
  FROM e1emis m JOIN sampw w ON w.word = m.word
  GROUP BY m.piece
)""")
    parts.append("""cnt2 AS MATERIALIZED (
  SELECT v.piece, v.piece_len,
         coalesce(u.usage,
                  CASE WHEN v.piece_len = 1 THEN v.cnt ELSE 0 END) AS cnt
  FROM vocab v LEFT JOIN usage u ON u.piece = v.piece
  WHERE coalesce(u.usage,
                 CASE WHEN v.piece_len = 1 THEN v.cnt ELSE 0 END) > 0
)""")
    parts.append("tot2 AS (SELECT sum(cnt)::BIGINT AS total FROM cnt2)")
    parts.append("""vocab2 AS MATERIALIZED (
  SELECT piece, piece_len, cnt,
         CAST(floor(-ln(cnt::DOUBLE / (SELECT total FROM tot2)) * 1000000
                    + 0.5) AS BIGINT) AS cost_micro
  FROM cnt2
)""")
    parts.append(f"""ew AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rn
    FROM sampw) WHERE rn <= {top_n}
)""")
    parts += _viterbi_ctes("e2", "ew", "vocab2", L, max_piece_len)
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT e.word, e.freq, a.encoded, a.n_pieces, d.cost AS cost_micro
FROM ew e
JOIN e2agg a ON a.word = e.word
JOIN e2dp d ON d.word = e.word AND d.pos = length(e.word)"""

def q_bpe_fertility(num_merges: int = 8) -> str:
    """Twin of tokenizer.bpe_fertility: the final training state IS the
    per-word encoding, so per-slice fertility is a join of the
    source-tagged word stream against state{K} piece counts."""
    return f"""
WITH {bpe_ctes(num_merges)},
wsrc AS (
  SELECT source AS grp,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
encn AS (
  SELECT word, len(syms)::BIGINT AS n_pieces,
         length(word)::BIGINT AS n_chars
  FROM state{num_merges}
)
SELECT grp AS source,
       count(*)::BIGINT AS n_words,
       sum(n_pieces)::BIGINT AS n_tokens,
       sum(n_chars)::BIGINT AS n_chars,
       round(sum(n_pieces)::DOUBLE / count(*), 6) AS fertility,
       round(sum(n_chars)::DOUBLE / sum(n_pieces), 6) AS chars_per_token
FROM wsrc JOIN encn USING (word)
GROUP BY grp"""


def q_gopher_rules(min_words: int = 50, max_words: int = 100000,
                   doc_table: str = "documents") -> str:
    """Twin of textanalysis.gopher_rules — same cross-multiplied exact
    integer comparisons, same fixed reason order."""
    stop = ", ".join(f"'{w}'" for w in
                     ("the", "be", "to", "of", "and", "that", "have", "with"))
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> length(x) > 0) AS words,
         list_filter(string_split(text, chr(10)),
                     l -> length(trim(l)) > 0) AS lines,
         CAST(len(regexp_extract_all(text, '#')) +
              len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_sym
  FROM {doc_table}
),
f AS (
  SELECT doc_id, n_sym,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS BIGINT) AS sum_wl,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣▪]'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS BIGINT) AS n_ellipsis,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(words, [{stop}])) AS BIGINT) AS n_stop
  FROM w
),
r AS (
  SELECT doc_id, n_words,
         (n_words >= {min_words} AND n_words <= {max_words}) AS ok_words,
         (3*n_words <= sum_wl AND sum_wl <= 10*n_words) AS ok_word_len,
         (10*n_sym <= n_words) AS ok_symbols,
         (10*n_bullet <= 9*n_lines AND 10*n_ellipsis <= 3*n_lines) AS ok_bullets,
         (5*n_alpha >= 4*n_words) AS ok_alpha,
         (n_stop >= 2) AS ok_stop
  FROM f
)
SELECT *, CASE WHEN NOT ok_words THEN 'word_count'
               WHEN NOT ok_word_len THEN 'word_length'
               WHEN NOT ok_symbols THEN 'symbol_ratio'
               WHEN NOT ok_bullets THEN 'bullet_ellipsis'
               WHEN NOT ok_alpha THEN 'non_alpha'
               WHEN NOT ok_stop THEN 'stopwords'
               ELSE 'ok' END AS reason,
       (ok_words AND ok_word_len AND ok_symbols AND ok_bullets
        AND ok_alpha AND ok_stop) AS keep
FROM r"""


def q_knn_ivfpq(k: int = 5, dim: int = 64, n_centroids: int = 16,
                nprobe: int = 4, m: int = 8, pq_centroids: int = 16,
                rescore_k: int = 20, refine_iters: int = 1) -> str:
    """Twin of similarity.knn_ivfpq (IVFADC): the q_knn_ivf coarse
    stage (seeded + 6dp Lloyd-refined cells, cosine assignment) feeding
    residual vectors into the q_knn_pq training replay, reconstruction
    = centroid + PQ(residual), ADC scoring inside probed cells only,
    exact rescore of the rescore_k survivors."""
    d = dim // m
    # coarse refinement (identical to q_knn_ivf)
    refine = []
    prev = "cent0"
    for i in range(refine_iters):
        nxt = "cent" if i == refine_iters - 1 else f"cent{i + 1}"
        refine.append(f"""
rassign{i} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT corpus.vec_id, corpus.v, {prev}.cid,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", f"{prev}.cv")} DESC, {prev}.cid ASC) AS rn
    FROM corpus CROSS JOIN {prev}) WHERE rn = 1),
rmeans{i} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign{i})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
{nxt} AS (
  SELECT c.cid, coalesce(mm.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN rmeans{i} mm USING (cid))""")
        prev = nxt
    coarse_refine = ",".join(refine)
    coarse_alias = "" if refine_iters else ",\ncent AS (SELECT * FROM cent0)"
    # residual-PQ refinement (identical to q_knn_pq, over residuals)
    prefine = []
    prev = "seed"
    for i in range(refine_iters):
        nxt = "cb" if i == refine_iters - 1 else f"cb{i + 1}"
        prefine.append(f"""
passign{i} AS (
  SELECT vec_id, s, sv, cid FROM (
    SELECT subv.vec_id, subv.s, subv.sv, {prev}.cid,
           row_number() OVER (PARTITION BY subv.vec_id, subv.s
                              ORDER BY {_l2_expr("subv.sv", f"{prev}.cv")} ASC, {prev}.cid ASC) AS rn
    FROM subv JOIN {prev} ON {prev}.s = subv.s) WHERE rn = 1),
pmeans{i} AS (
  SELECT s, cid, list(mv ORDER BY dim) AS cv FROM (
    SELECT s, cid, dim, round(sum(val) / count(*), 6) AS mv
    FROM (SELECT s, cid, unnest(sv) AS val,
                 unnest(range(1, len(sv) + 1)) AS dim FROM passign{i})
    GROUP BY s, cid, dim) GROUP BY s, cid),
{nxt} AS (
  SELECT sd.s, sd.cid, coalesce(p.cv, sd.cv) AS cv
  FROM {prev} sd LEFT JOIN pmeans{i} p ON p.s = sd.s AND p.cid = sd.cid)""")
        prev = nxt
    pq_refine = ",".join(prefine)
    pq_alias = "" if refine_iters else ",\ncb AS (SELECT * FROM seed)"
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
cent0 AS (SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT {n_centroids}){"," if coarse_refine else ""}{coarse_refine}{coarse_alias},
assigned AS MATERIALIZED (
  SELECT vec_id, v, cid AS centroid_id, cv AS ccv,
         list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS residual
  FROM (
    SELECT corpus.vec_id, corpus.v, cent.cid, cent.cv,
           row_number() OVER (PARTITION BY corpus.vec_id
                              ORDER BY {cosine_expr("corpus.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM corpus CROSS JOIN cent) WHERE rn = 1),
subv AS MATERIALIZED (
  SELECT vec_id, s, list_slice(residual, s * {d} + 1, (s + 1) * {d}) AS sv
  FROM assigned CROSS JOIN (SELECT unnest(range({m})) AS s) ss),
seed AS (
  SELECT s, vec_id AS cid, sv AS cv FROM subv
  WHERE vec_id IN (SELECT vec_id FROM corpus ORDER BY vec_id LIMIT {pq_centroids})){"," if pq_refine else ""}{pq_refine}{pq_alias},
codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT subv.vec_id, subv.s, cb.cid,
           row_number() OVER (PARTITION BY subv.vec_id, subv.s
                              ORDER BY {_l2_expr("subv.sv", "cb.cv")} ASC, cb.cid ASC) AS rn
    FROM subv JOIN cb ON cb.s = subv.s) WHERE rn = 1),
recon AS (
  SELECT a.vec_id, a.centroid_id,
         list_transform(range(1, len(a.ccv) + 1), i -> a.ccv[i] + rr.rres[i]) AS rv
  FROM assigned a JOIN (
    SELECT codes.vec_id, flatten(list(cb.cv ORDER BY codes.s)) AS rres
    FROM codes JOIN cb ON cb.s = codes.s AND cb.cid = codes.cid
    GROUP BY codes.vec_id) rr ON rr.vec_id = a.vec_id),
probes AS (
  SELECT query_id, qv, cid AS centroid_id FROM (
    SELECT q.query_id, q.qv, cent.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cosine_expr("q.qv", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {nprobe}),
approx AS (
  SELECT p.query_id, r.vec_id, {cosine_expr("r.rv", "p.qv")} AS acos
  FROM recon r JOIN probes p USING (centroid_id)),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id ASC) AS arank
    FROM approx) WHERE arank <= {rescore_k}),
exact AS (
  SELECT c2.query_id, c2.vec_id, {cosine_expr("corpus.v", "q.qv")} AS cos
  FROM cand c2 JOIN corpus ON c2.vec_id = corpus.vec_id JOIN q ON c2.query_id = q.query_id),
rk AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM exact)
SELECT query_id, vec_id, round(cos, 6) AS cos, rank::INT AS rank FROM rk WHERE rank <= {k}"""


def q_dsir_weights(buckets: int = 64, target_pred: str = "lang = 'en'") -> str:
    """Twin of training.dsir_weights: hashed unigram+bigram features,
    add-one-smoothed target/raw bucket models, exact decimal sums of
    6dp-rounded per-bucket log ratios."""
    h = hash60_expr("g")
    grams = """
  SELECT doc_id, unnest(list_concat(
    list_transform(w, x -> 'u:' || x),
    CASE WHEN len(w) >= 2
         THEN list_transform(range(1, len(w)), i -> 'b:' || w[i] || ' ' || w[i+1])
         ELSE [] END)) AS g
  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> length(x) > 0) AS w FROM {src})"""
    return f"""
WITH raw_feats AS MATERIALIZED (
  SELECT doc_id, {h} % {buckets} AS bucket FROM ({grams.format(src="documents")})
),
t_feats AS (
  SELECT doc_id, {h} % {buckets} AS bucket
  FROM ({grams.format(src=f"(SELECT * FROM documents WHERE {target_pred})")})
),
tc AS (SELECT bucket, count(*)::BIGINT AS tc FROM t_feats GROUP BY bucket),
rc AS (SELECT bucket, count(*)::BIGINT AS rc FROM raw_feats GROUP BY bucket),
ratio AS (
  SELECT b.bucket,
         round(ln((coalesce(tc, 0) + 1)::DOUBLE / (coalesce(rc, 0) + 1))
               + ln(((SELECT sum(coalesce(rc, 0)) FROM rc) + {buckets})::DOUBLE
                    / ((SELECT sum(coalesce(tc, 0)) FROM tc) + {buckets})),
               6)::DECIMAL(12,6) AS logratio
  FROM (SELECT unnest(range({buckets})) AS bucket) b
  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams, sum(logratio) AS w
  FROM raw_feats JOIN ratio USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       coalesce(p.w::DOUBLE, 0.0) AS dsir_logweight,
       CASE WHEN p.n_grams > 0 THEN round(p.w::DOUBLE / p.n_grams, 6)
            ELSE 0.0 END AS dsir_per_gram
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


def _cm_pairs_sql(src: str, depth: int, width: int) -> str:
    """UNION ALL of the depth (row, bucket) hash lines for every term
    in ``src`` — the SQL twin of frequency._cm_row_bucket."""
    lines = []
    for i in range(depth):
        h = hash60_expr(f"'cm{i}:' || term")
        lines.append(f"SELECT term, {i} AS r, {h} % {width} AS b FROM {src}")
    return " UNION ALL ".join(lines)


def q_count_min(depth: int = 4, width: int = 256, top: int = 30,
                full_report: bool = True) -> str:
    """Twin of frequency.count_min_report (full_report=True) /
    count_min_estimate over the top-``top`` exact keys
    (full_report=False, the streaming-serve shape): depth x width
    cells by md5 bucket hashing, point estimate = min over the key's
    cells, missing cell = 0."""
    final = (
        """SELECT e.term, e.n_exact, s.cm_estimate,
       (s.cm_estimate - e.n_exact)::BIGINT AS overestimate
FROM exact e JOIN est s USING (term)"""
        if full_report
        else "SELECT term, cm_estimate FROM est"
    )
    return f"""
WITH tk AS MATERIALIZED (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> length(x) > 0)) AS term
  FROM documents
),
cells AS (
  SELECT r, b, count(*)::BIGINT AS n
  FROM ({_cm_pairs_sql("tk", depth, width)}) GROUP BY r, b
),
exact AS (
  SELECT term, count(*)::BIGINT AS n_exact FROM tk GROUP BY term
  ORDER BY n_exact DESC, term ASC LIMIT {top}
),
est AS (
  SELECT p.term, min(coalesce(c.n, 0))::BIGINT AS cm_estimate
  FROM ({_cm_pairs_sql("exact", depth, width)}) p
  LEFT JOIN cells c USING (r, b) GROUP BY p.term
)
{final}"""


def q_semdedup(threshold: float = 0.95, n_centroids: int = 16,
               refine_iters: int = 1) -> str:
    """Twin of dedup.semdedup over the augmented embeddings (planted
    exact duplicates at vec_id+10000): smallest-id seeds + 6dp Lloyd
    refinement + cosine assignment (tie -> smaller cid), kept=false iff
    a smaller-id same-cell neighbor has cosine >= threshold."""
    refine = []
    prev = "cent0"
    for i in range(refine_iters):
        nxt = "cent" if i == refine_iters - 1 else f"cent{i + 1}"
        refine.append(f"""
rassign{i} AS (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT c.vec_id, c.v, {prev}.cid,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cosine_expr("c.v", f"{prev}.cv")} DESC, {prev}.cid ASC) AS rn
    FROM aug_emb c CROSS JOIN {prev}) WHERE rn = 1),
rmeans{i} AS (
  SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT centroid_id AS cid, dim, round(sum(val) / count(*), 6) AS m
    FROM (SELECT centroid_id, unnest(v) AS val,
                 unnest(range(1, len(v) + 1)) AS dim FROM rassign{i})
    GROUP BY centroid_id, dim)
  GROUP BY cid),
{nxt} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN rmeans{i} m USING (cid))""")
        prev = nxt
    refine_sql = ",".join(refine)
    alias = "" if refine_iters else ",\ncent AS (SELECT * FROM cent0)"
    return f"""
WITH {AUGMENTED_EMB_CTE.lstrip().rstrip()},
cent0 AS (SELECT vec_id AS cid, v AS cv FROM aug_emb ORDER BY vec_id LIMIT {n_centroids}){"," if refine_sql else ""}{refine_sql}{alias},
assigned AS MATERIALIZED (
  SELECT vec_id, v, cid AS centroid_id FROM (
    SELECT a.vec_id, a.v, cent.cid,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {cosine_expr("a.v", "cent.cv")} DESC, cent.cid ASC) AS rn
    FROM aug_emb a CROSS JOIN cent) WHERE rn = 1),
removed AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b USING (centroid_id)
  WHERE b.vec_id < a.vec_id AND {cosine_expr("a.v", "b.v")} >= {threshold})
SELECT x.vec_id, x.centroid_id, (r.vec_id IS NULL) AS kept
FROM assigned x LEFT JOIN removed r USING (vec_id)"""


def q_logreg_scores(buckets: int = 32, iters: int = 3, lr: float = 0.5,
                    label_pred: str = "lang = 'en'") -> str:
    """Twin of classify.logreg_hashed_scores: hashed bag-of-words
    features, full-batch GD from w=0 unrolled ``iters`` times. Every
    margin/gradient is an exact decimal sum of 6dp-quantized terms and
    every weight update re-quantizes to 6 dp, so each CTE iteration
    reproduces the Spark driver loop bit-for-bit (same unroll strategy
    as the BPE-merge oracle)."""
    h = hash60_expr("'lr:' || tok")
    parts = [f"""
WITH feats AS MATERIALIZED (
  SELECT doc_id, {h} % {buckets} AS bucket, count(*)::BIGINT AS x
  FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                      t -> length(t) > 0)) AS tok
    FROM documents)
  GROUP BY doc_id, bucket
),
ydf AS MATERIALIZED (
  SELECT doc_id, (CASE WHEN {label_pred} THEN 1 ELSE 0 END)::INT AS y
  FROM documents
),
n AS (SELECT count(*)::BIGINT AS n_docs FROM ydf),
w0 AS (SELECT unnest(range({buckets}))::INT AS bucket, 0.0::DECIMAL(12,6) AS w),
b0 AS (SELECT 0.0::DECIMAL(12,6) AS bias)"""]
    prev = "0"
    for i in range(1, iters + 1):
        parts.append(f""",
m{i} AS (
  SELECT ydf.doc_id, ydf.y,
         (coalesce(d.dot, 0.0::DECIMAL(24,6))
          + (SELECT bias FROM b{prev}))::DECIMAL(24,6) AS margin,
         round(1.0 / (1.0 + exp(-((coalesce(d.dot, 0.0::DECIMAL(24,6))
               + (SELECT bias FROM b{prev}))::DOUBLE))), 6)::DECIMAL(12,6) AS p
  FROM ydf LEFT JOIN (
    SELECT f.doc_id, sum(w.w * f.x)::DECIMAL(24,6) AS dot
    FROM feats f JOIN w{prev} w USING (bucket) GROUP BY f.doc_id) d
  USING (doc_id)
),
g{i} AS (
  SELECT f.bucket, sum((m.p - m.y) * f.x)::DECIMAL(24,6) AS g
  FROM feats f JOIN m{i} m USING (doc_id) GROUP BY f.bucket
),
w{i} AS (
  SELECT w.bucket,
         round(w.w::DOUBLE - {lr} * coalesce(g.g, 0.0)::DOUBLE
               / (SELECT n_docs FROM n), 6)::DECIMAL(12,6) AS w
  FROM w{prev} w LEFT JOIN g{i} g USING (bucket)
),
b{i} AS (
  SELECT round((SELECT bias FROM b{prev})::DOUBLE
               - {lr} * (SELECT sum(p - y) FROM m{i})::DOUBLE
               / (SELECT n_docs FROM n), 6)::DECIMAL(12,6) AS bias
)""")
        prev = str(i)
    # final scores under the post-update weights (iteration iters+1
    # margins — the Spark side's trailing margins() call)
    f = iters + 1
    parts.append(f""",
m{f} AS (
  SELECT ydf.doc_id, ydf.y,
         (coalesce(d.dot, 0.0::DECIMAL(24,6))
          + (SELECT bias FROM b{prev}))::DECIMAL(24,6) AS margin,
         round(1.0 / (1.0 + exp(-((coalesce(d.dot, 0.0::DECIMAL(24,6))
               + (SELECT bias FROM b{prev}))::DOUBLE))), 6)::DECIMAL(12,6) AS p
  FROM ydf LEFT JOIN (
    SELECT f.doc_id, sum(w.w * f.x)::DECIMAL(24,6) AS dot
    FROM feats f JOIN w{prev} w USING (bucket) GROUP BY f.doc_id) d
  USING (doc_id)
)
SELECT doc_id, y, margin::DOUBLE AS margin, p::DOUBLE AS prob FROM m{f}""")
    return "".join(parts)


def q_jl_projection(out_dim: int = 16, dim: int = 64) -> str:
    """Twin of projection.jl_projection: md5-parity Rademacher signs
    (projection._jl_signs), 1/sqrt(out_dim) scale, 6dp components."""
    import hashlib
    import math

    scale = repr(math.sqrt(float(out_dim)))

    def signs(i: int) -> str:
        vals = [
            "1.0" if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:15], 16) % 2 == 0
            else "-1.0"
            for j in range(dim)
        ]
        return "[" + ", ".join(vals) + "]"

    comps = ", ".join(
        f"round(list_dot_product(v, {signs(i)}) / {scale}, 6)"
        for i in range(out_dim)
    )
    return f"""
WITH src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pr AS (SELECT vec_id, v, [{comps}] AS proj FROM src),
flat AS (
  SELECT vec_id, i::INT AS pos, proj[i + 1] AS component,
         CASE WHEN sqrt(list_dot_product(v, v)) > 0
              THEN round(sqrt(list_dot_product(proj, proj))
                         / sqrt(list_dot_product(v, v)), 6)
              ELSE 0.0 END AS norm_ratio
  FROM pr, generate_series(0, {out_dim - 1}) AS t(i))
SELECT vec_id, pos, component, norm_ratio FROM flat"""


def q_embedding_dbscan(eps_micro: int = 50_000, min_pts: int = 4,
                       dim: int = 64) -> str:
    """Twin of projection.dbscan_projected: identical md5-parity JL
    signs and micro-quantization, then the NAIVE quadratic eps-join
    (the grid blocking is recall-exact, so the raw theta join IS the
    reference semantics), core/border/noise roles, min-label connected
    components via recursive closure, border assigned to the min core
    neighbor's cluster."""
    import hashlib
    import math

    scale = repr(math.sqrt(2.0))

    def signs(i: int) -> str:
        vals = [
            "1.0" if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:15], 16) % 2 == 0
            else "-1.0"
            for j in range(dim)
        ]
        return "[" + ", ".join(vals) + "]"

    e2 = int(eps_micro) * int(eps_micro)
    return f"""
WITH RECURSIVE src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pts AS MATERIALIZED (
  SELECT vec_id,
         floor(round(list_dot_product(v, {signs(0)}) / {scale}, 6) * 1e6 + 0.5)::BIGINT AS qx,
         floor(round(list_dot_product(v, {signs(1)}) / {scale}, 6) * 1e6 + 0.5)::BIGINT AS qy
  FROM src),
nbrs AS MATERIALIZED (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM pts a JOIN pts b
    ON (a.qx - b.qx) * (a.qx - b.qx) + (a.qy - b.qy) * (a.qy - b.qy) <= {e2}),
counts AS MATERIALIZED (
  SELECT a_id AS vec_id, count(*)::BIGINT AS n_neighbors FROM nbrs GROUP BY 1),
cores AS MATERIALIZED (
  SELECT vec_id FROM counts WHERE n_neighbors >= {min_pts}),
edges AS MATERIALIZED (
  SELECT a_id AS a, b_id AS b FROM nbrs
  WHERE a_id < b_id
    AND a_id IN (SELECT vec_id FROM cores)
    AND b_id IN (SELECT vec_id FROM cores)),
sym AS MATERIALIZED (
  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
cc AS MATERIALIZED (
  SELECT a AS vec_id, least(a, min(b))::BIGINT AS cluster_id
  FROM reach GROUP BY a),
core_lab AS MATERIALIZED (
  SELECT c.vec_id, coalesce(cc.cluster_id, c.vec_id)::BIGINT AS cluster_id
  FROM cores c LEFT JOIN cc USING (vec_id)),
border_lab AS MATERIALIZED (
  SELECT n.a_id AS vec_id, min(cl.cluster_id)::BIGINT AS cluster_id
  FROM nbrs n JOIN core_lab cl ON n.b_id = cl.vec_id
  WHERE n.a_id <> n.b_id
    AND n.a_id NOT IN (SELECT vec_id FROM cores)
  GROUP BY n.a_id)
SELECT c.vec_id, c.n_neighbors,
       CASE WHEN k.cluster_id IS NOT NULL THEN 'core'
            WHEN b.cluster_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(k.cluster_id, b.cluster_id)::BIGINT AS cluster_id
FROM counts c
LEFT JOIN core_lab k USING (vec_id)
LEFT JOIN border_lab b USING (vec_id)"""


def q_lsh_signature_matches(num_hashes: int = 16, bands: int = 4,
                            n: int = 3, threshold: float = 0.5) -> str:
    """Twin of the ACCUMULATED streaming_lsh_dedup match log over the
    augmented docs: banded candidates (any split — the stream covers
    each pair exactly once), est_jaccard = matching-minhash-component
    fraction, threshold filter. Signature-only (no exact verify): the
    streaming state never holds text."""
    from semantik_spark.operators.dedup import minhash_mix_constants

    rows_per_band = num_hashes // bands
    consts = minhash_mix_constants(num_hashes)
    mh_cols = ", ".join(
        f"min(xor(h, {c}::BIGINT)) AS mh{i}" for i, c in enumerate(consts)
    )
    band_rows = ", ".join(
        "({b}, {key})".format(
            b=b,
            key=" || ',' || ".join(
                f"mh{b * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"(a.mh{i} = b.mh{i})::INT" for i in range(num_hashes)
    )
    return f"""
WITH {AUGMENTED_DOCS_CTE.lstrip()},
{shingle_ctes("aug_docs", n).lstrip()},
sigw AS (
  SELECT doc_id, {mh_cols}
  FROM (SELECT doc_id, {hash60_expr("shingle")} AS h FROM sh)
  GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b.band, b.band_key
  FROM sigw, LATERAL (VALUES {band_rows}) AS b(band, band_key)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(({match_sum})::DOUBLE / {num_hashes}, 6) AS est_jaccard
  FROM candidates c
  JOIN sigw a ON c.doc_a = a.doc_id
  JOIN sigw b ON c.doc_b = b.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {threshold}"""


def q_corpus_overlap(k: int = 64, n: int = 3) -> str:
    """Twin of sketches.kmv_set_ops applied to per-SOURCE shingle sets
    over documents — the cross-corpus contamination/overlap matrix a
    multi-source training mix needs before weighting sources."""
    h = hash60_expr("shingle")
    space = float(2**60)

    def est(us: str) -> str:
        return (f"CASE WHEN len({us}) < {k} THEN len({us})::DOUBLE "
                f"ELSE {float(k - 1)} / list_max({us}) END")

    merged = f"(list_sort(list_distinct(list_concat(us_a, us_b))))[1:{k}]"
    return f"""
WITH wtok AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> length(t) > 0) AS toks
  FROM documents
), shl AS (
  SELECT source,
         CASE WHEN len(toks) >= {n}
              THEN list_distinct([array_to_string(toks[i+1:i+{n}], ' ')
                                  for i in range(0, greatest(len(toks)-{n}, 0)+1)])
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM wtok
), sh AS (
  SELECT source AS g, unnest(shingles) AS shingle FROM shl
),
hashes AS (
  SELECT DISTINCT g, ({h} + 1) / {space!r} AS u FROM sh
),
sk AS (SELECT g, (list_sort(array_agg(u)))[1:{k}] AS us FROM hashes GROUP BY g),
pairs AS (
  SELECT a.g AS group_a, b.g AS group_b, a.us AS us_a, b.us AS us_b
  FROM sk a JOIN sk b ON a.g < b.g
),
calc AS (
  SELECT group_a, group_b,
         {est('us_a')} AS est_a,
         {est('us_b')} AS est_b,
         {est(merged)} AS est_u
  FROM pairs
)
SELECT group_a, group_b,
       round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
       round(est_u, 6) AS est_union,
       round(greatest(est_a + est_b - est_u, 0.0), 6) AS est_intersect,
       round(greatest(est_a + est_b - est_u, 0.0) / est_u, 6) AS jaccard_est
FROM calc"""


def q_corpus_drift_psi(buckets: int = 32, ref_pred: str = "doc_id % 2 = 0",
                       cur_pred: str = "doc_id % 2 = 1") -> str:
    """Twin of profiling.corpus_drift_psi between the even/odd doc_id
    halves: hashed-token bins, add-one smoothing, 6dp-quantized terms,
    exact decimal total."""
    h = hash60_expr("'psi:' || tok")
    tok_src = """
  SELECT {h} % {b} AS bucket FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              t -> length(t) > 0)) AS tok
    FROM documents WHERE {pred})"""
    return f"""
WITH nr AS (
  SELECT bucket, count(*)::BIGINT AS n_ref
  FROM ({tok_src.format(h=h, b=buckets, pred=ref_pred)}) GROUP BY bucket
),
nc AS (
  SELECT bucket, count(*)::BIGINT AS n_cur
  FROM ({tok_src.format(h=h, b=buckets, pred=cur_pred)}) GROUP BY bucket
),
j AS (
  SELECT b.bucket,
         coalesce(nr.n_ref, 0)::BIGINT AS n_ref,
         coalesce(nc.n_cur, 0)::BIGINT AS n_cur
  FROM (SELECT unnest(range({buckets}))::INT AS bucket) b
  LEFT JOIN nr USING (bucket) LEFT JOIN nc USING (bucket)
),
sm AS (
  SELECT bucket, n_ref, n_cur,
         (n_ref + 1)::DOUBLE / ((SELECT sum(n_ref) FROM j) + {buckets})::DOUBLE AS q,
         (n_cur + 1)::DOUBLE / ((SELECT sum(n_cur) FROM j) + {buckets})::DOUBLE AS p
  FROM j
),
t AS (
  SELECT bucket, n_ref, n_cur,
         round((p - q) * ln(p / q), 6)::DECIMAL(12,6) AS psi_term
  FROM sm
)
SELECT bucket, n_ref, n_cur, psi_term::DOUBLE AS psi_term,
       (SELECT sum(psi_term) FROM t)::DOUBLE AS psi_total
FROM t"""


def q_leakage_safe_split(test_buckets: int = 2, n_buckets: int = 10,
                         num_hashes: int = 16, bands: int = 4, n: int = 3,
                         threshold: float = 0.5) -> str:
    """Twin of training.leakage_safe_split over the augmented dup
    corpus: cluster-hash split vs naive doc-hash split + leak audit."""
    hb_c = hash60_expr("'split:' || cluster_id::VARCHAR")
    hb_d = hash60_expr("'split:' || doc_id::VARCHAR")
    return f"""
WITH RECURSIVE {_minhash_verified_ctes(num_hashes, bands, n)},
edges AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {threshold}
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
base AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id)::BIGINT AS cluster_id
  FROM aug_docs d LEFT JOIN cc USING (doc_id)
),
tagged AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {hb_c} % {n_buckets} < {test_buckets}
              THEN 'test' ELSE 'train' END AS split,
         CASE WHEN {hb_d} % {n_buckets} < {test_buckets}
              THEN 'test' ELSE 'train' END AS naive_split
  FROM base
)
SELECT doc_id, cluster_id, split, naive_split,
       (min(naive_split) OVER (PARTITION BY cluster_id)
        <> max(naive_split) OVER (PARTITION BY cluster_id)) AS naive_leak
FROM tagged"""


def q_knn_ivf_sample_sweep(k: int = 5, n_centroids: int = 16,
                           nprobe: int = 4,
                           mods: tuple = (1, 3, 10)) -> str:
    """Sampled-codebook recall curve (twin of the knn_ivf_sample_sweep
    driver query): recall@k at training-sample mod 1 (full corpus),
    3 (~1/3) and 10 (~1/10) against the exhaustive top-k — the
    measured recall-vs-training-cost trade of the 100 TB ANN build
    path, as a driver-checked artifact (VERDICT r8 item 7)."""
    branches = []
    for mod in mods:
        sub = q_knn_ivf(
            k=k, n_centroids=n_centroids, nprobe=nprobe,
            train_table="tsample" if mod > 1 else "corpus",
            sample_mod=mod if mod > 1 else None)
        branches.append(f"""
SELECT 'sample_mod={mod}' AS method, {mod}::INT AS sample_mod, n_hit, n_exact,
       round(n_hit::DOUBLE / n_exact, 6) AS recall
FROM (
  SELECT (SELECT count(*)::BIGINT FROM bf b
          JOIN ({sub}) a ON b.query_id = a.query_id AND b.vec_id = a.vec_id) AS n_hit,
         (SELECT count(*)::BIGINT FROM bf) AS n_exact
) s""")
    return f"""
WITH bf AS MATERIALIZED ({q_knn_bruteforce(k=k)})
{" UNION ALL ".join(branches)}"""


def q_knn_communities(k: int = 5, iterations: int = 4) -> str:
    """Twin of graph.label_propagation over graph.knn_graph_edges:
    undirected closure of the kNN edges, then ``iterations`` unrolled
    synchronous rounds — each a (node, label) neighbor count with the
    arg-max taken as (count DESC, label ASC), the same deterministic
    tie rule the Spark side applies."""
    its = []
    prev = "l0"
    for i in range(1, iterations + 1):
        cur = f"l{i}"
        its.append(f""",
{cur} AS (
  SELECT e.src AS id, l.label, count(*) AS c
  FROM adj e JOIN {prev} l ON l.id = e.dst
  GROUP BY e.src, l.label
  QUALIFY row_number() OVER (PARTITION BY e.src
                             ORDER BY count(*) DESC, l.label ASC) = 1
)""")
        prev = cur
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
adj AS (SELECT u AS src, v AS dst FROM und
        UNION ALL SELECT v AS src, u AS dst FROM und),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM adj){''.join(its)}
SELECT id, label AS community FROM {prev}"""


def q_spell_suggestions(top_n: int = 20, min_len: int = 5, k: int = 1) -> str:
    """Twin of the spell_suggestions query: typos = top-``top_n`` df
    vocab terms (length >= ``min_len``) with the 2nd char dropped;
    deletion-neighborhood candidates, Levenshtein verify, df-ranked
    pick."""
    return f"""
WITH {bm25_ctes()},
typos AS (
  SELECT substr(term, 1, 1) || substr(term, 3) AS word FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
    FROM terms WHERE length(term) >= {min_len}) WHERE rn <= {top_n}
),
unk AS (
  SELECT DISTINCT word AS w FROM typos
  WHERE word NOT IN (SELECT term FROM terms)
),
wv AS (
  SELECT w, unnest(list_append(
    list_transform(range(1, length(w) + 1),
                   i -> substr(w, 1, i - 1) || substr(w, i + 1)), w)) AS v
  FROM unk
),
tv AS MATERIALIZED (
  SELECT term, df, unnest(list_append(
    list_transform(range(1, length(term) + 1),
                   i -> substr(term, 1, i - 1) || substr(term, i + 1)),
    term)) AS v
  FROM terms
),
cand AS (SELECT DISTINCT w, term, df FROM wv JOIN tv USING (v) WHERE w <> term),
ver AS (SELECT w, term, df FROM cand WHERE levenshtein(w, term) <= 1)
SELECT w AS word, term AS suggestion, df::BIGINT AS suggestion_df,
       levenshtein(w, term)::INT AS dist, rn::INT AS sug_rank
FROM (SELECT *, row_number() OVER (PARTITION BY w ORDER BY df DESC, term) AS rn
      FROM ver)
WHERE rn <= {k}"""


def q_maxsim_rerank(k: int = 5, first_k: int = 20, doc_tokens: int = 32,
                    query_tokens: int = 8) -> str:
    """Twin of search.maxsim_rerank (ColBERT MaxSim): BM25 first stage
    reuses bm25_search_ctes; each candidate rescored as the sum over
    query-token POSITIONS (duplicates count twice, like the Spark
    posexplode) of the max token-embedding dot product, 9 dp decimal
    terms so the sum is exact. Token embeddings use the NORMALIZED
    twin (functions.vectors.mock_embedding_sql) so dot == cosine with
    the Spark side's exact operation order."""
    from semantik_spark.functions.vectors import mock_embedding_sql
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, first_k)},
cand AS MATERIALIZED (SELECT query_id, doc_id FROM ranked WHERE rank <= {first_k}),
dtok AS (
  SELECT doc_id, unnest(tokens[1:{doc_tokens}]) AS dt
  FROM tokd WHERE doc_id IN (SELECT DISTINCT doc_id FROM cand)
),
dembr AS MATERIALIZED (
  SELECT doc_id, {mock_embedding_sql("dt")} AS d_emb FROM dtok),
qrows AS (
  SELECT query_id, i AS qpos, tokens[i] AS qt
  FROM (SELECT query_id, tokens,
               unnest(range(1, least(len(tokens), {query_tokens}) + 1)) AS i
        FROM qtok)
),
qembr AS MATERIALIZED (
  SELECT query_id, qpos, {mock_embedding_sql("qt")} AS q_emb FROM qrows),
term AS (
  SELECT c.query_id, c.doc_id, q.qpos,
         CAST(round(max(list_dot_product(q.q_emb, d.d_emb)), 9)
              AS DECIMAL(20,9)) AS term
  FROM cand c
  JOIN qembr q ON q.query_id = c.query_id
  JOIN dembr d ON d.doc_id = c.doc_id
  GROUP BY c.query_id, c.doc_id, q.qpos
),
mscored AS (
  SELECT query_id, doc_id,
         round(sum(term), 6)::DOUBLE AS score
  FROM term GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, rank::INT AS rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM mscored)
WHERE rank <= {k}"""


def q_textrank_keywords(top_k: int = 20, damping: float = 0.85,
                        iterations: int = 5) -> str:
    """Twin of extract.textrank_keywords: window-2 co-occurrence word
    graph + weighted PageRank with per-edge DECIMAL(28,12) contribution
    rounding (exact sums in any engine) and per-round 9 dp re-round."""
    its = []
    prev = "pr0"
    for t in range(1, iterations + 1):
        cur = f"pr{t}"
        its.append(f""",
{cur} AS MATERIALIZED (
  SELECT n.id,
         round((1.0 - {damping}) / (SELECT n FROM nn)
               + {damping} * coalesce(s.s, 0.0), 9) AS pr
  FROM nodes n LEFT JOIN (
    SELECT a.dst AS id,
           CAST(sum(CAST(round(p.pr * a.w / o.ow, 12) AS DECIMAL(28,12)))
                AS DOUBLE) AS s
    FROM adj a JOIN {prev} p ON p.id = a.src JOIN outw o ON o.src = a.src
    GROUP BY a.dst) s ON s.id = n.id
)""")
        prev = cur
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM documents
),
pairs AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v FROM (
    SELECT tokens[i] AS a, tokens[i + 1] AS b FROM (
      SELECT tokens, unnest(range(1, len(tokens))) AS i
      FROM tokd WHERE len(tokens) >= 2))
  WHERE a <> b
),
wedges AS (SELECT u, v, count(*)::DOUBLE AS w FROM pairs GROUP BY u, v),
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst, w FROM wedges
  UNION ALL SELECT v AS src, u AS dst, w FROM wedges),
outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM adj GROUP BY src),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM adj),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
pr0 AS MATERIALIZED (
  SELECT id, round(1.0 / (SELECT n FROM nn), 9) AS pr FROM nodes){''.join(its)}
SELECT word, score, kw_rank::INT AS kw_rank FROM (
  SELECT id AS word, round(pr * (SELECT n FROM nn), 6) AS score,
         row_number() OVER (ORDER BY round(pr * (SELECT n FROM nn), 6) DESC,
                            id ASC) AS kw_rank
  FROM {prev})
WHERE kw_rank <= {top_k}"""


def q_knn_kcore(k: int = 5, rounds: int = 8) -> str:
    """Twin of graph.kcore_numbers over graph.knn_graph_edges:
    ``rounds`` unrolled h-index iterations — est0 = degree, then
    est_t(v) = max(least(rank, neighbor_est)) over neighbors sorted by
    (est DESC, dst ASC); h-index is order-insensitive among equal
    values, so the rank tiebreak is cosmetic and both engines agree."""
    its = []
    prev = "est0"
    for t in range(1, rounds + 1):
        cur = f"est{t}"
        its.append(f""",
{cur} AS (
  SELECT src AS id, max(least(rn, nb_est))::BIGINT AS est FROM (
    SELECT e.src, p.est AS nb_est,
           row_number() OVER (PARTITION BY e.src
                              ORDER BY p.est DESC, e.dst ASC) AS rn
    FROM adj e JOIN {prev} p ON p.id = e.dst)
  GROUP BY src
)""")
        prev = cur
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
adj AS (SELECT u AS src, v AS dst FROM und
        UNION ALL SELECT v AS src, u AS dst FROM und),
est0 AS (SELECT src AS id, count(*)::BIGINT AS est FROM adj GROUP BY src){''.join(its)}
SELECT d.id, d.est AS degree, {prev}.est AS core
FROM est0 d JOIN {prev} ON {prev}.id = d.id"""


def q_cdc_dedup_stats(window: int = 16, modulus: int = 64) -> str:
    """Twin of chunking.cdc_dedup_stats: position scan + trailing-
    window fingerprint anchors, spans from consecutive anchors plus
    the tail span, then per-source chunk-content dedup accounting."""
    h = hash60_expr(f"substr(text, i - {window - 1}, {window})")
    return f"""
WITH d AS (SELECT doc_id, source, text, length(text) AS len FROM documents),
pos AS (
  SELECT doc_id, text, len, unnest(range({window}, len + 1)) AS i
  FROM d WHERE len >= {window}
),
anch AS (
  SELECT doc_id, i FROM pos WHERE {h} % {modulus} = 0
),
spans AS (
  SELECT doc_id,
         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
         i AS e
  FROM anch
),
tail AS (
  SELECT d.doc_id, coalesce(mx, 0) + 1 AS s, len AS e
  FROM d LEFT JOIN (SELECT doc_id, max(i) AS mx FROM anch GROUP BY doc_id) a
    USING (doc_id)
  WHERE coalesce(mx, 0) < len
),
chunks AS (
  SELECT sp.doc_id, substr(text, s, e - s + 1) AS chunk_text
  FROM (SELECT * FROM spans UNION ALL SELECT * FROM tail) sp
  JOIN d USING (doc_id)
),
per_chunk AS (
  SELECT d.source, chunk_text, count(*) AS n_occ,
         count(DISTINCT c.doc_id) AS n_docs_seen,
         sum(length(chunk_text)) AS bytes_occ
  FROM chunks c JOIN d USING (doc_id)
  GROUP BY d.source, chunk_text
)
SELECT source, sum(n_occ)::BIGINT AS total_chunks,
       count(*)::BIGINT AS distinct_chunks,
       sum(CASE WHEN n_docs_seen > 1 THEN 1 ELSE 0 END)::BIGINT AS cross_doc_chunks,
       round(1.0 - count(*)::DOUBLE / sum(n_occ), 6) AS dup_frac,
       round(sum(bytes_occ)::DOUBLE / sum(n_occ), 6) AS avg_chunk_len
FROM per_chunk GROUP BY source"""


def q_cdc_chunks(window: int = 16, modulus: int = 64) -> str:
    """Chunk-row twin of the CDC boundary rule (both
    chunking.content_defined_chunks AND the fused mapInPandas
    content_defined_chunks_scan(rule='md5') — boundary equality between
    the two Spark forms is test-pinned, so one oracle serves both):
    spans between md5-window anchors plus the tail span, indexed per
    doc in chunk_start order."""
    h = hash60_expr(f"substr(text, i - {window - 1}, {window})")
    return f"""
WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
pos AS (
  SELECT doc_id, text, len, unnest(range({window}, len + 1)) AS i
  FROM d WHERE len >= {window}
),
anch AS (
  SELECT doc_id, i FROM pos WHERE {h} % {modulus} = 0
),
spans AS (
  SELECT doc_id,
         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
         i AS e
  FROM anch
),
tail AS (
  SELECT d.doc_id, coalesce(mx, 0) + 1 AS s, len AS e
  FROM d LEFT JOIN (SELECT doc_id, max(i) AS mx FROM anch GROUP BY doc_id) a
    USING (doc_id)
  WHERE coalesce(mx, 0) < len
)
SELECT sp.doc_id,
       (row_number() OVER (PARTITION BY sp.doc_id ORDER BY s) - 1)::INT
         AS chunk_index,
       s::INT AS chunk_start,
       substr(text, s, e - s + 1) AS chunk_text
FROM (SELECT * FROM spans UNION ALL SELECT * FROM tail) sp
JOIN d USING (doc_id)"""


def q_phrase_search(k: int = 10) -> str:
    """Twin of search.phrase_search: exact-phrase (slop=0) matching on
    the stopword-filtered token stream via the anchor = pos - slot
    trick, ranked occurrences DESC / first anchor ASC / doc_id ASC."""
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM documents),
pos AS MATERIALIZED (
  SELECT doc_id, unnest(range(0, len(tokens))) AS p, unnest(tokens) AS term
  FROM tokd),
ph AS ({queries_values_sql(PHRASE_QUERIES, text_name="phrase")}),
ptokl AS (
  SELECT query_id,
         list_filter(regexp_extract_all(lower(phrase), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS toks
  FROM ph),
ptok AS MATERIALIZED (
  SELECT query_id, unnest(range(0, len(toks))) AS slot, unnest(toks) AS term
  FROM ptokl),
plen AS (SELECT query_id, count(DISTINCT slot) AS n_slots FROM ptok GROUP BY query_id),
hits AS MATERIALIZED (
  SELECT pt.query_id, pos.doc_id, pt.slot, pos.p - pt.slot AS anchor
  FROM pos JOIN ptok pt USING (term)
  WHERE pos.p - pt.slot >= 0),
occ AS MATERIALIZED (
  SELECT h.query_id, h.doc_id, h.anchor
  FROM hits h JOIN plen USING (query_id)
  GROUP BY h.query_id, h.doc_id, h.anchor, plen.n_slots
  HAVING count(DISTINCT h.slot) = plen.n_slots),
scored AS (
  SELECT query_id, doc_id, count(*)::INT AS n_occurrences,
         min(anchor)::INT AS first_pos
  FROM occ GROUP BY query_id, doc_id)
SELECT query_id, doc_id, n_occurrences, first_pos, rank::INT AS rank FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_occurrences DESC, first_pos ASC, doc_id ASC) AS rank
  FROM scored s) z
WHERE rank <= {k}"""


def q_phrase_search_slop(k: int = 10, slop: int = 1) -> str:
    """Twin of search.phrase_search(slop>0): "ordered near" matching —
    a matching window start ``a`` is one from the doc's anchor set
    with every slot's anchor inside [a, a+slop]; occurrences
    canonicalize by DISTINCT FIRST MATCHED TOKEN POSITION (same as the
    Spark side — shifted windows over the same evidence share their
    first matched token) and first_pos is that first matched token
    position (anchor + slot), never the raw window start."""
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM documents),
pos AS MATERIALIZED (
  SELECT doc_id, unnest(range(0, len(tokens))) AS p, unnest(tokens) AS term
  FROM tokd),
ph AS ({queries_values_sql(PHRASE_QUERIES, text_name="phrase")}),
ptokl AS (
  SELECT query_id,
         list_filter(regexp_extract_all(lower(phrase), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS toks
  FROM ph),
ptok AS MATERIALIZED (
  SELECT query_id, unnest(range(0, len(toks))) AS slot, unnest(toks) AS term
  FROM ptokl),
plen AS (SELECT query_id, count(DISTINCT slot) AS n_slots FROM ptok GROUP BY query_id),
hits AS MATERIALIZED (
  SELECT pt.query_id, pos.doc_id, pt.slot, pos.p - pt.slot AS anchor
  FROM pos JOIN ptok pt USING (term)),
starts AS (
  SELECT DISTINCT query_id, doc_id, anchor AS a FROM hits),
win AS MATERIALIZED (
  SELECT h.query_id, h.doc_id, s.a,
         min(h.anchor + h.slot) AS first_hit
  FROM hits h
  JOIN starts s ON s.query_id = h.query_id AND s.doc_id = h.doc_id
   AND h.anchor BETWEEN s.a AND s.a + {slop}
  JOIN plen ON plen.query_id = h.query_id
  GROUP BY h.query_id, h.doc_id, s.a, plen.n_slots
  HAVING count(DISTINCT h.slot) = plen.n_slots),
occ AS (
  SELECT DISTINCT query_id, doc_id, first_hit AS anchor FROM win),
scored AS (
  SELECT query_id, doc_id, count(*)::INT AS n_occurrences,
         min(anchor)::INT AS first_pos
  FROM occ GROUP BY query_id, doc_id)
SELECT query_id, doc_id, n_occurrences, first_pos, rank::INT AS rank FROM (
  SELECT s.*, row_number() OVER (
    PARTITION BY query_id
    ORDER BY n_occurrences DESC, first_pos ASC, doc_id ASC) AS rank
  FROM scored s) z
WHERE rank <= {k}"""


def q_search_facets(search_k: int = 50, top_values: int = 5) -> str:
    """Twin of search.facet_counts: facet value counts over the BM25
    top-search_k hit set, top values per (query, facet)."""
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, search_k)},
hits AS (
  SELECT r.query_id, d.source, d.lang
  FROM ranked r JOIN documents d USING (doc_id)
  WHERE r.rank <= {search_k}),
pairs AS (
  SELECT query_id, 'source' AS facet, source AS value FROM hits
  UNION ALL
  SELECT query_id, 'lang' AS facet, lang AS value FROM hits),
counts AS (
  SELECT query_id, facet, value, count(*)::INT AS n_hits
  FROM pairs GROUP BY query_id, facet, value)
SELECT query_id, facet, value, n_hits, facet_rank::INT AS facet_rank FROM (
  SELECT c.*, row_number() OVER (
    PARTITION BY query_id, facet
    ORDER BY n_hits DESC, value ASC) AS facet_rank
  FROM counts c) z
WHERE facet_rank <= {top_values}"""


AUTOCOMPLETE_PREFIXES: list[str] = ["s", "c", "f", "b", "va"]


def q_query_autocomplete(k: int = 5) -> str:
    """Twin of search.prefix_completions: df-ranked vocabulary
    completions per prefix (df DESC, term ASC)."""
    rows = ", ".join(f"('{p}')" for p in AUTOCOMPLETE_PREFIXES)
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'),
                     t -> length(t) >= 2 AND NOT list_contains({STOPLIST_SQL}, t)) AS tokens
  FROM documents),
dftab AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, unnest(tokens) AS term FROM tokd)
  GROUP BY term),
pl AS (SELECT lower(prefix) AS prefix, length(prefix) AS plen
       FROM (VALUES {rows}) AS _p(prefix)),
cand AS (
  SELECT pl.prefix, d.term, d.df
  FROM dftab d JOIN pl
    ON length(d.term) >= pl.plen AND substring(d.term, 1, pl.plen) = pl.prefix)
SELECT prefix, term, df, sug_rank::INT AS sug_rank FROM (
  SELECT c.*, row_number() OVER (
    PARTITION BY prefix ORDER BY df DESC, term ASC) AS sug_rank
  FROM cand c) z
WHERE sug_rank <= {k}"""


def q_user_survival(window_hours: int = 36,
                    target_type: str = "purchase") -> str:
    """Twin of timeseries.kaplan_meier_conversion: KM estimator over
    integer-hour time-to-conversion with administrative censoring at
    the window boundary; log factors rounded to 9 dp and cumulated as
    DECIMAL(28,9) before the single exp."""
    horizon = window_hours * 3_600_000_000
    return f"""
WITH per0 AS (
  SELECT user_id,
         min(epoch_us(ts::TIMESTAMP))::BIGINT AS t0,
         min(CASE WHEN event_type = '{target_type}'
                  THEN epoch_us(ts::TIMESTAMP) END)::BIGINT AS tc
  FROM events GROUP BY user_id),
per AS (
  SELECT CASE WHEN tc IS NOT NULL AND tc - t0 < {horizon}
              THEN ((tc - t0) // 3600000000)::INT
              ELSE {window_hours} END AS t,
         CASE WHEN tc IS NOT NULL AND tc - t0 < {horizon}
              THEN 1 ELSE 0 END AS observed
  FROM per0),
agg AS (
  SELECT t, sum(observed)::BIGINT AS n_events,
         (count(*) - sum(observed))::BIGINT AS n_censored
  FROM per GROUP BY t),
km AS (
  SELECT t, n_events, n_censored,
         ((SELECT count(*) FROM per)
          - coalesce(sum(n_events + n_censored) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0))::BIGINT AS n_risk
  FROM agg),
lfs AS (
  SELECT *,
         CASE WHEN n_events > 0 AND n_events < n_risk
              THEN round(ln(1.0 - n_events / n_risk), 9)::DECIMAL(28,9)
              ELSE 0::DECIMAL(28,9) END AS lf,
         CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dies
  FROM km)
SELECT t, n_risk, n_events, n_censored,
       CASE WHEN max(dies) OVER w = 1 THEN 0.0
            ELSE round(exp((sum(lf) OVER w)::DOUBLE), 6) END AS survival
FROM lfs
WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


def q_benford_audit(table: str = "orders",
                    value_col: str = "o_totalprice") -> str:
    """Twin of profiling.benford_audit: first-significant-digit counts
    vs log10(1 + 1/d), rounded chi-square terms summed as DECIMAL.
    Both branches take the Spark side's exact fixed-point
    decimal-string scan — DECIMAL(38,6) for values >= 1 (no
    floor->BIGINT, which overflows at ~9.2e18), DECIMAL(38,18) for
    (0,1) (0.042 -> 4); participation bound [1e-18, 1e32)."""
    return f"""
WITH digits AS (
  SELECT CASE WHEN {value_col} >= 1
              THEN nullif(regexp_extract(
                     ({value_col}::DECIMAL(38,6))::VARCHAR, '[1-9]', 0),
                   '')::INT
              ELSE nullif(regexp_extract(
                     ({value_col}::DECIMAL(38,18))::VARCHAR, '[1-9]', 0),
                   '')::INT
         END AS digit
  FROM {table} WHERE {value_col} > 0 AND {value_col} < 1e32),
counts AS (
  SELECT digit, count(*)::BIGINT AS n
  FROM digits WHERE digit IS NOT NULL GROUP BY 1),
full_ AS (
  SELECT d.digit, coalesce(c.n, 0)::BIGINT AS n
  FROM (SELECT unnest(range(1, 10))::INT AS digit) d
  LEFT JOIN counts c USING (digit)),
withp AS (
  SELECT digit, n, sum(n) OVER () AS N_, log10(1.0 + 1.0 / digit) AS p_
  FROM full_),
termed AS (
  SELECT digit, n,
         round(n / N_, 6) AS observed_pct,
         round(p_, 6) AS expected_pct,
         round(pow(n - N_ * p_, 2) / (N_ * p_), 6)::DECIMAL(18,6) AS chi2_term
  FROM withp)
SELECT digit, n, observed_pct, expected_pct,
       chi2_term::DOUBLE AS chi2_term,
       (sum(chi2_term) OVER ())::DOUBLE AS chi2_total
FROM termed"""


def q_token_gini(deciles: int = 10) -> str:
    """Twin of textanalysis.token_gini: rank-weighted integer Gini over
    the whitespace term-frequency table + Lorenz deciles."""
    return f"""
WITH tf AS (
  SELECT term, count(*)::BIGINT AS f
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> length(t) > 0)) AS term
        FROM documents)
  GROUP BY term),
ranked AS (
  SELECT term, f,
         row_number() OVER (ORDER BY f ASC, term ASC)::BIGINT AS i
  FROM tf),
enriched AS (
  SELECT term, f, i,
         count(*) OVER ()::BIGINT AS V_,
         sum(f::DECIMAL(38,0)) OVER () AS S_,
         sum(i::DECIMAL(38,0) * f::DECIMAL(38,0)) OVER () AS S1_,
         sum(f::DECIMAL(38,0)) OVER (
           ORDER BY i ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_,
         ceil(i * {deciles} / (count(*) OVER ())::DOUBLE)::INT AS decile
  FROM ranked)
SELECT decile, count(*)::BIGINT AS n_terms,
       round(max(cum_)::DOUBLE / max(S_)::DOUBLE, 6) AS lorenz_share,
       round(2.0 * max(S1_)::DOUBLE / (max(V_)::DOUBLE * max(S_)::DOUBLE)
             - (max(V_) + 1)::DOUBLE / max(V_)::DOUBLE, 6) AS gini
FROM enriched GROUP BY decile"""


def q_knn_label_modularity(k: int = 5) -> str:
    """Twin of graph.label_modularity over the kNN graph with the
    embeddings' ground-truth labels as the partition."""
    return f"""
WITH {knn_edges_ctes(k)},
lab AS (SELECT vec_id AS n_, label AS lab_ FROM embeddings),
e AS (
  SELECT ls.lab_ AS lab_s, ld.lab_ AS lab_d
  FROM edges
  JOIN lab ls ON edges.src = ls.n_
  JOIN lab ld ON edges.dst = ld.n_),
per AS (
  SELECT lab_s AS label, count(*)::BIGINT AS d_out,
         sum((lab_s = lab_d)::INT)::BIGINT AS e_within
  FROM e GROUP BY lab_s),
din AS (SELECT lab_d AS label, count(*)::BIGINT AS d_in FROM e GROUP BY lab_d),
nodes AS (SELECT lab_ AS label, count(*)::BIGINT AS n_nodes FROM lab GROUP BY lab_),
full_ AS (
  SELECT n.label, n.n_nodes,
         coalesce(p.e_within, 0)::BIGINT AS e_within,
         coalesce(p.d_out, 0)::BIGINT AS d_out,
         coalesce(d.d_in, 0)::BIGINT AS d_in
  FROM nodes n LEFT JOIN per p USING (label) LEFT JOIN din d USING (label)),
termed AS (
  SELECT label, n_nodes, e_within, d_out, d_in,
         round(e_within::DOUBLE / (sum(d_out) OVER ())::DOUBLE
               - (d_out::DECIMAL(38,0) * d_in::DECIMAL(38,0))::DOUBLE
                 / ((sum(d_out) OVER ())::DECIMAL(38,0)
                    * (sum(d_out) OVER ())::DECIMAL(38,0))::DOUBLE,
               6)::DECIMAL(12,6) AS q_contrib
  FROM full_)
SELECT label, n_nodes, e_within, d_out, d_in,
       q_contrib::DOUBLE AS q_contrib,
       (sum(q_contrib) OVER ())::DOUBLE AS q_total
FROM termed"""


def q_lm_kneser_ney(discount: float = 0.75) -> str:
    """Twin of textanalysis.kneser_ney_logprob: interpolated KN bigram
    perplexity per doc — same expression shape, same 9-dp DECIMAL log
    accumulation."""
    d = discount
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents),
dbg AS (
  SELECT doc_id, toks[r.i] AS wa, toks[r.i + 1] AS wb,
         toks[r.i] || ' ' || toks[r.i + 1] AS gram
  FROM tk, LATERAL unnest(range(1, len(toks))) AS r(i)
  WHERE len(toks) >= 2),
bgc AS (SELECT gram, any_value(wa) AS wa, any_value(wb) AS wb,
               count(*)::BIGINT AS c12
        FROM dbg GROUP BY gram),
fw AS (SELECT wa, sum(c12)::BIGINT AS ctx1, count(*)::BIGINT AS n1p_fw
       FROM bgc GROUP BY wa),
bw AS (SELECT wb, count(*)::BIGINT AS n1p_bw FROM bgc GROUP BY wb),
types AS (SELECT count(*)::BIGINT AS ntypes FROM bgc),
model AS (
  SELECT gram,
         round(ln(greatest(c12 - {d}, 0.0) / ctx1
                  + (({d} * n1p_fw) / ctx1) * (n1p_bw / ntypes)),
               9)::DECIMAL(20,9) AS lp
  FROM bgc JOIN fw USING (wa) JOIN bw USING (wb), types),
agg AS (
  SELECT doc_id, count(*)::INT AS n_bigrams, sum(lp)::DECIMAL(28,9) AS slp
  FROM dbg JOIN model USING (gram) GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       round(slp::DOUBLE / n_bigrams, 6) AS avg_logprob,
       round(exp(-(slp::DOUBLE / n_bigrams)), 6) AS ppl
FROM agg"""


def q_boolean_search(k: int = 10) -> str:
    """Twin of search.boolean_search: Lucene BooleanQuery MUST/SHOULD/
    MUST_NOT clause semantics over the BM25 postings — every MUST term
    present, no MUST_NOT term, >=1 SHOULD hit when MUST is empty; score
    = Σ impact weight over distinct matched positive terms."""
    vals = ", ".join(
        f"('{q}', '{m}', '{s}', '{n}')" for q, m, s, n in BOOLEAN_QUERIES)
    tokf = (
        "list_filter(regexp_extract_all(lower({c}), '" + TOKEN_PATTERN
        + "'), t -> length(t) >= 2 AND NOT list_contains("
        + STOPLIST_SQL + ", t))"
    )
    return f"""
WITH {bm25_ctes()},
bq AS (SELECT * FROM (VALUES {vals}) AS t(query_id, must, should, must_not)),
mterm AS (SELECT DISTINCT query_id, unnest({tokf.format(c='must')}) AS term FROM bq),
sterm AS (SELECT DISTINCT query_id, unnest({tokf.format(c='should')}) AS term FROM bq),
nterm AS (SELECT DISTINCT query_id, unnest({tokf.format(c='must_not')}) AS term FROM bq),
pos AS (
  SELECT query_id, term, max(is_must) AS is_must FROM (
    SELECT query_id, term, 1 AS is_must FROM mterm
    UNION ALL SELECT query_id, term, 0 FROM sterm)
  GROUP BY query_id, term),
nmust AS (
  SELECT bq.query_id, count(mterm.term)::INT AS n_must
  FROM bq LEFT JOIN mterm USING (query_id) GROUP BY bq.query_id),
hits AS (
  SELECT pos.query_id, p.doc_id, count(*)::INT AS n_matched,
         sum(pos.is_must)::INT AS n_must_hit, sum(p.weight) AS score
  FROM post p JOIN pos USING (term)
  GROUP BY pos.query_id, p.doc_id),
neg AS (
  SELECT DISTINCT nterm.query_id, p.doc_id
  FROM post p JOIN nterm USING (term)),
cand AS (
  SELECT h.* FROM hits h JOIN nmust USING (query_id)
  WHERE h.n_must_hit = nmust.n_must
    AND NOT EXISTS (SELECT 1 FROM neg
                    WHERE neg.query_id = h.query_id
                      AND neg.doc_id = h.doc_id))
SELECT query_id, doc_id, n_matched, round(score, 6) AS score,
       rank::INT AS rank
FROM (SELECT c.*, row_number() OVER (
        PARTITION BY query_id
        ORDER BY score DESC, doc_id ASC) AS rank
      FROM cand c) z
WHERE rank <= {k}"""


def q_stat_ks_test(ga: str = "click", gb: str = "purchase") -> str:
    """Twin of stattests.ks_test_2samp on events.value: integer-exact
    sup |ca*n_b - cb*n_a|, Numerical Recipes lambda, 40-term Kolmogorov
    series with 9-dp DECIMAL term accumulation."""
    terms = " + ".join(
        f"round(exp(((-2.0*{j}*{j})*lam)*lam), 9)::DECIMAL(20,9) * {2 if j % 2 == 1 else -2}"
        for j in range(1, 41))
    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{ga}', '{gb}') AND value IS NOT NULL),
vl AS (
  SELECT v,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY v),
cum AS (
  SELECT sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM vl),
tot AS (SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b FROM vl),
dm AS (
  -- HUGEINT widening before the cross products: the Spark twin uses
  -- DECIMAL(38,0); both stay exact where BIGINT would wrap at 100 TB
  SELECT n_a, n_b,
         max(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a))::DECIMAL(38,0) AS num
  FROM cum, tot GROUP BY n_a, n_b),
d AS (
  SELECT '{ga}' AS group_a, '{gb}' AS group_b, n_a, n_b,
         round(num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE, 6) AS ks_d,
         (sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)) + 0.12
          + 0.11 / sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)))
         * (num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE) AS lam
  FROM dm)
SELECT group_a, group_b, n_a, n_b, ks_d,
       CASE WHEN lam < 0.1 THEN 1.0
            ELSE round(least(1.0, greatest(0.0, ({terms})::DOUBLE)), 6)
       END AS p_value
FROM d"""


def q_stat_mann_whitney(ga: str = "view", gb: str = "purchase") -> str:
    """Twin of stattests.mann_whitney_u on events.value: doubled-rank
    integer rank sums, tie-corrected variance, no continuity
    correction."""
    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{ga}', '{gb}') AND value IS NOT NULL),
vl AS (
  SELECT v,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY v),
ranked AS (
  SELECT na, nb, na + nb AS t,
         coalesce(sum(na + nb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)::BIGINT AS c
  FROM vl),
agg AS (
  -- HUGEINT widening before the doubled-rank products and tie cubes
  -- (na*2c ~ n², t³ — both wrap BIGINT at 100 TB; Spark twin uses
  -- DECIMAL(38,0))
  SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b,
         sum(na::HUGEINT * (2 * c::HUGEINT + t + 1))::DECIMAL(38,0) AS ra2,
         sum(t::HUGEINT * t * t - t)::DECIMAL(38,0) AS ties
  FROM ranked),
ua AS (
  SELECT n_a, n_b,
         ra2::DOUBLE / 2 - (n_a::HUGEINT * (n_a + 1))::DOUBLE / 2 AS u_a,
         ties FROM agg)
SELECT '{ga}' AS group_a, '{gb}' AS group_b, n_a, n_b,
       round(u_a, 1) AS u_a,
       round((n_a::HUGEINT * n_b)::DOUBLE - u_a, 1) AS u_b,
       round((u_a - (n_a::HUGEINT * n_b)::DOUBLE / 2)
             / sqrt((n_a::HUGEINT * n_b)::DOUBLE / 12.0
                    * ((n_a + n_b + 1)::DOUBLE
                       - ties::DOUBLE
                       / ((n_a + n_b)::HUGEINT
                          * (n_a + n_b - 1))::DOUBLE)), 6) AS z
FROM ua"""


def q_stat_tests_from_sketch(ga: str = "click", gb: str = "purchase",
                             alpha: float = 0.01) -> str:
    """Twin of the stat_tests_from_sketch serve path: KS D and
    Mann-Whitney z folded over BOTH the exact value-level table and
    the DDSketch bucket table (identical repr gamma literal), emitted
    as exact-vs-sketch comparison rows with the pinned tolerances."""
    from semantik_spark.operators.sketches import ddsketch_params

    _, inv_lg, _ = ddsketch_params(alpha)

    def ksd(vl: str, s: str) -> str:
        return f"""
cum{s} AS (
  SELECT sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM {vl}),
tot{s} AS (SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b FROM {vl}),
dm{s} AS (
  SELECT n_a, n_b,
         max(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a))::DECIMAL(38,0) AS num
  FROM cum{s}, tot{s} GROUP BY n_a, n_b),
d{s} AS (
  SELECT round(num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE, 6) AS ks_d
  FROM dm{s})"""

    def mwz(vl: str, s: str) -> str:
        return f"""
rk{s} AS (
  SELECT na, nb, na + nb AS t,
         coalesce(sum(na + nb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)::BIGINT AS c
  FROM {vl}),
ag{s} AS (
  SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b,
         sum(na::HUGEINT * (2 * c::HUGEINT + t + 1))::DECIMAL(38,0) AS ra2,
         sum(t::HUGEINT * t * t - t)::DECIMAL(38,0) AS ties
  FROM rk{s}),
z{s} AS (
  SELECT round(((ra2::DOUBLE / 2 - (n_a::HUGEINT * (n_a + 1))::DOUBLE / 2)
                - (n_a::HUGEINT * n_b)::DOUBLE / 2)
               / sqrt((n_a::HUGEINT * n_b)::DOUBLE / 12.0
                      * ((n_a + n_b + 1)::DOUBLE
                         - ties::DOUBLE
                         / ((n_a + n_b)::HUGEINT
                            * (n_a + n_b - 1))::DOUBLE)), 6) AS z
  FROM ag{s})"""

    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{ga}', '{gb}') AND value IS NOT NULL),
vle AS (
  SELECT v,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY v),
vls AS (
  SELECT CASE WHEN v > 0 THEN ceil(round(ln(v) * {inv_lg!r}, 9))::INT
              ELSE -2147483648 END AS v,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY 1),
{ksd("vle", "e")},
{ksd("vls", "s")},
{mwz("vle", "e")},
{mwz("vls", "s")}
SELECT 'ks_d' AS test, de.ks_d AS exact_stat, ds.ks_d AS sketch_stat,
       round(abs(de.ks_d - ds.ks_d), 6) AS abs_err,
       round(abs(de.ks_d - ds.ks_d), 6) <= 0.01 AS within_tol
FROM de, ds
UNION ALL
SELECT 'mwu_z', ze.z, zs.z,
       round(abs(ze.z - zs.z), 6),
       round(abs(ze.z - zs.z), 6) <= 0.05
FROM ze, zs"""


def _bf_fold_ctes(vl: str, p: str) -> str:
    """The Brown-Forsythe CTE fold (q_brown_forsythe's chain) over an
    arbitrary per-(group, value) count table ``{vl}(g, v, c)``, with
    every CTE suffixed ``{p}`` — shared by q_stat_bf_from_sketch (runs
    it twice, exact vs sketch) and q_streaming_bf (runs it over the
    decoded streaming sketch state). Terminal CTEs: per{p}(g, n, med,
    mad, …) and stats{p}(f_stat, df1, df2)."""
    return f"""
cum{p} AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cc,
         sum(c) OVER (PARTITION BY g) AS n
  FROM {vl}),
med{p} AS (
  SELECT g,
         (max(CASE WHEN cc - c < floor((n + 1) / 2)
                    AND cc >= floor((n + 1) / 2) THEN v END)
          + max(CASE WHEN cc - c < floor((n + 2) / 2)
                      AND cc >= floor((n + 2) / 2) THEN v END)) / 2 AS med
  FROM cum{p}
  WHERE (cc - c < floor((n + 1) / 2) AND cc >= floor((n + 1) / 2))
     OR (cc - c < floor((n + 2) / 2) AND cc >= floor((n + 2) / 2))
  GROUP BY g),
z{p} AS (
  SELECT t.g, t.c, m.med,
         round(abs(t.v - m.med), 6)::DECIMAL(18,6) AS z
  FROM {vl} t JOIN med{p} m USING (g)),
gm{p} AS (
  SELECT g, med, sum(c)::BIGINT AS n,
         sum(z * c::DECIMAL(12,0))::DECIMAL(28,6) AS sz,
         sum((z * z)::DECIMAL(25,6) * c::DECIMAL(12,0))::DECIMAL(38,6) AS szz
  FROM z{p} GROUP BY g, med),
tot{p} AS (SELECT sum(n)::BIGINT AS nn, sum(sz)::DECIMAL(38,6) AS tsz,
                  count(*)::INT AS k FROM gm{p}),
per{p} AS (
  SELECT g, n, med, sz::DOUBLE / n AS mad,
         round(n * (sz::DOUBLE / n - tsz::DOUBLE / nn)
                 * (sz::DOUBLE / n - tsz::DOUBLE / nn),
               9)::DECIMAL(28,9) AS b9,
         round(szz::DOUBLE
               - n * (sz::DOUBLE / n) * (sz::DOUBLE / n),
               9)::DECIMAL(28,9) AS w9,
         nn, k
  FROM gm{p}, tot{p}),
stats{p} AS (
  SELECT round((sum(b9)::DOUBLE / (k - 1)::DOUBLE)
               / (sum(w9)::DOUBLE / (nn - k)::DOUBLE), 6) AS f_stat,
         (min(k) - 1)::INT AS df1, (min(nn) - min(k))::INT AS df2
  FROM per{p} GROUP BY nn, k)"""


def q_stat_bf_from_sketch(alpha: float = 0.01) -> str:
    """Twin of stat_bf_from_sketch: the Brown-Forsythe fold
    (_bf_fold_ctes) run over BOTH the exact per-(group, value) table
    and the DDSketch bucket table with representative values
    (identical coeff/lg double literals), emitted as exact-vs-sketch
    comparison rows with the pinned relative tolerances (1%
    medians/mads, 5% F)."""
    from semantik_spark.operators.sketches import ddsketch_params

    _, inv_lg, coeff = ddsketch_params(alpha)
    lg = 1.0 / inv_lg
    fold = _bf_fold_ctes

    return f"""
WITH base AS (
  SELECT event_type::VARCHAR AS g, value AS v FROM events
  WHERE value IS NOT NULL),
vle AS (SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY 1, 2),
vls AS (
  SELECT g,
         CASE WHEN bb = -2147483648 THEN 0.0
              ELSE round({coeff!r} * exp(bb * {lg!r}), 9) END AS v,
         sum(c)::BIGINT AS c
  FROM (SELECT g,
               CASE WHEN v > 0
                    THEN ceil(round(ln(v) * {inv_lg!r}, 9))::INT
                    ELSE -2147483648 END AS bb,
               count(*)::BIGINT AS c
        FROM base GROUP BY 1, 2) q
  GROUP BY 1, 2),
{fold("vle", "e")},
{fold("vls", "s")},
cmpm AS (
  SELECT 'median:' || pe.g AS test,
         round(pe.med::DOUBLE, 6) AS exact_stat,
         round(ps.med::DOUBLE, 6) AS sketch_stat, 0.01 AS rel_tol
  FROM pere pe JOIN pers ps ON pe.g = ps.g
  UNION ALL
  SELECT 'mad:' || pe.g, round(pe.mad, 6), round(ps.mad, 6), 0.01
  FROM pere pe JOIN pers ps ON pe.g = ps.g
  UNION ALL
  SELECT 'bf_f_stat', se.f_stat, ss.f_stat, 0.05
  FROM statse se, statss ss)
SELECT test, exact_stat, sketch_stat,
       round(abs(exact_stat - sketch_stat), 6) AS abs_err, rel_tol,
       round(abs(exact_stat - sketch_stat), 6)
         <= rel_tol * abs(exact_stat) AS within_tol
FROM cmpm ORDER BY test"""


def q_streaming_bf(alpha: float = 0.01) -> str:
    """Twin of streaming_bf: the state after all micro-batches exactly
    equals the batch DDSketch bucket table (count-addition merge), so
    the oracle decodes batch bucket indices to their representative
    values (identical coeff/lg literals, reserved non-positive bucket
    → 0.0) and runs the shared Brown-Forsythe fold (_bf_fold_ctes)
    over them — the full per-group verdict ddsketch_state_bf serves."""
    from semantik_spark.operators.sketches import ddsketch_params

    _, inv_lg, coeff = ddsketch_params(alpha)
    lg = 1.0 / inv_lg
    return f"""
WITH base AS (
  SELECT event_type::VARCHAR AS g, value AS v FROM events),
vls AS (
  SELECT g,
         CASE WHEN bb = -2147483648 THEN 0.0
              ELSE round({coeff!r} * exp(bb * {lg!r}), 9) END AS v,
         sum(c)::BIGINT AS c
  FROM (SELECT g,
               CASE WHEN v > 0
                    THEN ceil(round(ln(v) * {inv_lg!r}, 9))::INT
                    ELSE -2147483648 END AS bb,
               count(*)::BIGINT AS c
        FROM base GROUP BY 1, 2) q
  GROUP BY 1, 2),
{_bf_fold_ctes("vls", "s")}
SELECT g AS group_val, n, round(med::DOUBLE, 6) AS median,
       round(mad, 6) AS mean_absdev, f_stat, df1, df2
FROM pers, statss"""


def q_streaming_psi(ga: str = "click", gb: str = "purchase",
                    alpha: float = 0.01,
                    threshold_milli: int = 200) -> str:
    """Twin of streaming_psi: the state after all micro-batches equals
    the batch DDSketch bucket table exactly, so the oracle folds the
    +1-smoothed PSI over the batch buckets' cohort counts — union
    bucket universe, 6-dp DECIMAL terms (ddsketch_state_psi's
    corpus_drift_psi discipline)."""
    from semantik_spark.operators.sketches import ddsketch_params

    _, inv_lg, _ = ddsketch_params(alpha)
    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{ga}', '{gb}')),
j AS (
  SELECT CASE WHEN v > 0 THEN ceil(round(ln(v) * {inv_lg!r}, 9))::INT
              ELSE -2147483648 END AS bucket,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS n_b
  FROM base GROUP BY 1),
tot AS (SELECT sum(n_a)::BIGINT AS ta, sum(n_b)::BIGINT AS tb,
               count(*)::BIGINT AS c FROM j),
termed AS (
  SELECT bucket, n_a, n_b,
         round(((n_b + 1)::DOUBLE / (tb + c) - (n_a + 1)::DOUBLE / (ta + c))
               * ln(((n_b + 1)::DOUBLE / (tb + c))
                    / ((n_a + 1)::DOUBLE / (ta + c))), 6)::DECIMAL(12,6)
           AS psi_term
  FROM j, tot),
agg AS (SELECT sum(psi_term)::DOUBLE AS psi_total FROM termed)
SELECT bucket, n_a, n_b, psi_term::DOUBLE AS psi_term, psi_total,
       psi_total > {threshold_milli / 1000.0!r} AS shifted
FROM termed, agg"""


def q_streaming_ks(ga: str = "click", gb: str = "purchase",
                   alpha: float = 0.01) -> str:
    """Twin of streaming_ks: the state after all micro-batches exactly
    equals the batch DDSketch bucket table (count-addition merge), so
    the oracle is ks_from_value_counts' fold over the batch buckets —
    identical CASE mapping (NULL/non-positive values pool in the
    reserved INT_MIN bucket, as in sketches.ddsketch_buckets)."""
    from semantik_spark.operators.sketches import ddsketch_params

    _, inv_lg, _ = ddsketch_params(alpha)
    terms = " + ".join(
        f"round(exp(((-2.0*{j}*{j})*lam)*lam), 9)::DECIMAL(20,9) * {2 if j % 2 == 1 else -2}"
        for j in range(1, 41))
    return f"""
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('{ga}', '{gb}')),
vl AS (
  SELECT CASE WHEN v > 0 THEN ceil(round(ln(v) * {inv_lg!r}, 9))::INT
              ELSE -2147483648 END AS v,
         sum(CASE WHEN g = '{ga}' THEN 1 ELSE 0 END)::BIGINT AS na,
         sum(CASE WHEN g = '{gb}' THEN 1 ELSE 0 END)::BIGINT AS nb
  FROM base GROUP BY 1),
cum AS (
  SELECT sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM vl),
tot AS (SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b FROM vl),
dm AS (
  SELECT n_a, n_b,
         max(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a))::DECIMAL(38,0) AS num
  FROM cum, tot GROUP BY n_a, n_b),
d AS (
  SELECT '{ga}' AS group_a, '{gb}' AS group_b, n_a, n_b,
         round(num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE, 6) AS ks_d,
         (sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)) + 0.12
          + 0.11 / sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)))
         * (num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE) AS lam
  FROM dm)
SELECT group_a, group_b, n_a, n_b, ks_d,
       CASE WHEN lam < 0.1 THEN 1.0
            ELSE round(least(1.0, greatest(0.0, ({terms})::DOUBLE)), 6)
       END AS p_value
FROM d"""


def q_stat_chi_square(mod: int = 5) -> str:
    """Twin of stattests.chi_square_independence on event_type ×
    (user_id % mod) cohort: exact margins, 9-dp DECIMAL contribution
    accumulation, dense margin cross."""
    return f"""
WITH obs AS (
  SELECT event_type::VARCHAR AS row_val,
         (user_id % {mod})::VARCHAR AS col_val,
         count(*)::BIGINT AS observed
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2),
rt AS (SELECT row_val, sum(observed)::BIGINT AS rt FROM obs GROUP BY row_val),
ct AS (SELECT col_val, sum(observed)::BIGINT AS ct FROM obs GROUP BY col_val),
tot AS (SELECT sum(observed)::BIGINT AS n,
               count(DISTINCT row_val)::INT AS nr,
               count(DISTINCT col_val)::INT AS nc FROM obs),
dense AS (
  SELECT rt.row_val, ct.col_val, coalesce(obs.observed, 0)::BIGINT AS observed,
         rt.rt, ct.ct, tot.n, tot.nr, tot.nc
  FROM rt CROSS JOIN ct
  LEFT JOIN obs USING (row_val, col_val)
  CROSS JOIN tot),
cells AS (
  SELECT row_val, col_val, observed,
         round((rt::HUGEINT * ct)::DOUBLE / n, 6) AS expected,
         round((observed - (rt::HUGEINT * ct)::DOUBLE / n)
               * (observed - (rt::HUGEINT * ct)::DOUBLE / n)
               / ((rt::HUGEINT * ct)::DOUBLE / n), 9)::DECIMAL(20,9) AS c9,
         ((nr - 1) * (nc - 1))::INT AS dof
  FROM dense)
SELECT row_val, col_val, observed, expected,
       round(c9, 6)::DOUBLE AS contrib,
       round(sum(c9) OVER (), 6)::DOUBLE AS chi2_total, dof
FROM cells"""


def q_theil_sen_trend() -> str:
    """Twin of timeseries.theil_sen_daily on orders: calendar-bounded
    pair slopes, explicit two-middle median, Siegel intercept."""
    med = ("SELECT avg({c}) AS med, max(m)::BIGINT AS m FROM {t} "
           "WHERE rn = floor((m+1)/2) OR rn = floor((m+2)/2)")
    return f"""
WITH daily AS (
  SELECT o_orderdate AS day, sum(o_totalprice::DECIMAL(18,2))::DECIMAL(18,2) AS rev
  FROM orders GROUP BY 1),
d0 AS (SELECT min(day) AS d0 FROM daily),
idx AS (SELECT datediff('day', d0, day)::BIGINT AS i, rev FROM daily, d0),
slopes AS (
  SELECT ((b.rev - a.rev)::DOUBLE / (b.i - a.i)) AS s
  FROM idx a JOIN idx b ON a.i < b.i),
rs AS (SELECT s, row_number() OVER (ORDER BY s) AS rn,
              count(*) OVER () AS m FROM slopes),
ms AS ({med.format(c='s', t='rs')}),
res AS (SELECT (rev::DOUBLE - ms.med * i) AS r0 FROM idx, ms),
rr AS (SELECT r0, row_number() OVER (ORDER BY r0) AS rn,
              count(*) OVER () AS m FROM res),
mr AS ({med.format(c='r0', t='rr')}),
nd AS (SELECT count(*)::BIGINT AS n_days FROM daily)
SELECT nd.n_days, ms.m AS n_pairs,
       round(ms.med, 6) AS slope_per_day,
       round(mr.med, 6) AS intercept
FROM nd, ms, mr"""


def q_good_turing(max_r: int = 20, n: int = 1) -> str:
    """Twin of textanalysis.good_turing_spectrum: frequency-of-
    frequencies over word n-grams with Turing-adjusted r*, tail rollup
    at r = -1."""
    if n == 1:
        gram_cte = "SELECT unnest(toks) AS w FROM tk"
    else:
        parts = " || ' ' || ".join(f"toks[r.i + {i}]" for i in range(n))
        gram_cte = (f"SELECT {parts} AS w FROM tk, "
                    f"LATERAL unnest(range(1, len(toks) - {n - 2})) AS r(i) "
                    f"WHERE len(toks) >= {n}")
    return f"""
WITH tk AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents),
tf AS (SELECT w, count(*)::BIGINT AS r
       FROM ({gram_cte}) GROUP BY w),
ff AS (SELECT r, count(*)::BIGINT AS n_types FROM tf GROUP BY r),
spec AS (
  SELECT CASE WHEN r <= {max_r} THEN r ELSE -1 END AS r,
         sum(n_types)::BIGINT AS n_types,
         sum(r * n_types)::BIGINT AS mass
  FROM ff GROUP BY 1),
nxt AS (SELECT r - 1 AS r, n_types AS n_next FROM ff),
tot AS (SELECT sum(mass)::BIGINT AS n_tokens FROM spec)
SELECT spec.r::INT AS r, spec.n_types, spec.mass,
       round(CASE WHEN spec.r >= 1 AND nxt.n_next IS NOT NULL
                  THEN (spec.r + 1) * nxt.n_next::DOUBLE / spec.n_types
             END, 6) AS r_star,
       round(spec.mass::DOUBLE / tot.n_tokens, 6) AS p_class
FROM spec LEFT JOIN nxt USING (r) CROSS JOIN tot"""


def q_stupid_backoff(alpha_milli: int = 400) -> str:
    """Twin of textanalysis.stupid_backoff_score: train on even
    doc_ids, score odd — trigram/bigram/unigram backoff chain with
    alpha = alpha_milli/1000, 9-dp DECIMAL log accumulation."""
    a = f"({alpha_milli}/1000.0)"
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents),
trt AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
sct AS (SELECT * FROM tk WHERE doc_id % 2 = 1),
c1 AS (SELECT w AS g, count(*)::BIGINT AS c1
       FROM (SELECT unnest(toks) AS w FROM trt) GROUP BY w),
c2 AS (SELECT toks[r.i] || ' ' || toks[r.i + 1] AS g, count(*)::BIGINT AS c2
       FROM trt, LATERAL unnest(range(1, len(toks))) AS r(i)
       WHERE len(toks) >= 2 GROUP BY 1),
c3 AS (SELECT toks[r.i] || ' ' || toks[r.i + 1] || ' ' || toks[r.i + 2] AS g,
              count(*)::BIGINT AS c3
       FROM trt, LATERAL unnest(range(1, len(toks) - 1)) AS r(i)
       WHERE len(toks) >= 3 GROUP BY 1),
tot AS (SELECT sum(c1)::BIGINT AS n_tokens FROM c1),
pos AS (
  SELECT doc_id,
         toks[r.i] || ' ' || toks[r.i + 1] || ' ' || toks[r.i + 2] AS g3,
         toks[r.i] || ' ' || toks[r.i + 1] AS g12,
         toks[r.i + 1] || ' ' || toks[r.i + 2] AS g23,
         toks[r.i + 1] AS w2, toks[r.i + 2] AS w3
  FROM sct, LATERAL unnest(range(1, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 3),
j AS (
  SELECT pos.doc_id, c3.c3, a2.c2 AS c12, b2.c2 AS c23,
         u2.c1 AS cw2, u3.c1 AS cw3, tot.n_tokens
  FROM pos
  LEFT JOIN c3 ON pos.g3 = c3.g
  LEFT JOIN c2 a2 ON pos.g12 = a2.g
  LEFT JOIN c2 b2 ON pos.g23 = b2.g
  LEFT JOIN c1 u2 ON pos.w2 = u2.g
  LEFT JOIN c1 u3 ON pos.w3 = u3.g
  CROSS JOIN tot),
lv AS (
  SELECT doc_id,
         CASE WHEN c3 IS NOT NULL THEN 3 WHEN c23 IS NOT NULL THEN 2
              WHEN cw3 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         CASE WHEN c3 IS NOT NULL THEN c3::DOUBLE / c12
              WHEN c23 IS NOT NULL THEN {a} * (c23::DOUBLE / cw2)
              WHEN cw3 IS NOT NULL THEN {a} * {a} * (cw3::DOUBLE / n_tokens)
         END AS s
  FROM j),
sc AS (SELECT doc_id, lvl,
              CASE WHEN lvl > 0 THEN round(ln(s), 9)::DECIMAL(20,9) END AS ls
       FROM lv),
agg AS (
  SELECT doc_id, count(*)::INT AS n_trigrams,
         sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END)::INT AS n_tri_hit,
         sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END)::INT AS n_bi_hit,
         sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END)::INT AS n_uni_hit,
         sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END)::INT AS n_oov,
         sum(ls)::DECIMAL(28,9) AS sls
  FROM sc GROUP BY doc_id)
SELECT doc_id, n_trigrams, n_tri_hit, n_bi_hit, n_uni_hit, n_oov,
       round(sls::DOUBLE / (n_trigrams - n_oov), 6) AS avg_logscore
FROM agg"""


def q_heaps_law(buckets: int = 32, n: int = 1) -> str:
    """Twin of textanalysis.heaps_law: doc-id-range checkpoint buckets,
    first-occurrence n-gram vocabulary accounting, regr_* fit of ln V
    on ln n."""
    b = (f"floor(({{c}} - lo)::DOUBLE * {buckets} / (hi - lo + 1))::INT")
    if n == 1:
        gram = "SELECT doc_id, unnest(toks) AS w FROM tk"
    else:
        parts = " || ' ' || ".join(f"toks[r.i + {i}]" for i in range(n))
        gram = (f"SELECT doc_id, {parts} AS w FROM tk, "
                f"LATERAL unnest(range(1, len(toks) - {n - 2})) AS r(i) "
                f"WHERE len(toks) >= {n}")
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents),
per_doc AS (SELECT doc_id, (CASE WHEN len(toks) >= {n} THEN len(toks) - {n} + 1 ELSE 0 END)::BIGINT AS nt FROM tk),
bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM per_doc),
btok AS (
  SELECT {b.format(c='doc_id')} AS bucket, sum(nt)::BIGINT AS toks_in
  FROM per_doc, bounds GROUP BY 1),
first AS (
  SELECT {b.format(c='fdoc')} AS bucket, count(*)::BIGINT AS n_new
  FROM (SELECT w, min(doc_id) AS fdoc FROM ({gram}) GROUP BY w),
       bounds
  GROUP BY 1),
series AS (
  SELECT bucket,
         (sum(toks_in) OVER (ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS n_tokens_cum,
         (sum(coalesce(n_new, 0)) OVER (ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING))::BIGINT AS vocab_cum
  FROM btok LEFT JOIN first USING (bucket)),
nz AS (SELECT * FROM series WHERE n_tokens_cum > 0),
fit AS (
  SELECT round(regr_slope(ln(vocab_cum), ln(n_tokens_cum)), 6) AS heaps_beta,
         round(exp(regr_intercept(ln(vocab_cum), ln(n_tokens_cum))), 6) AS heaps_k,
         round(regr_r2(ln(vocab_cum), ln(n_tokens_cum)), 6) AS r2
  FROM nz)
SELECT bucket, n_tokens_cum, vocab_cum, heaps_beta, heaps_k, r2
FROM nz, fit"""


def q_corpus_drift_jsd(top_k: int = 20) -> str:
    """Twin of profiling.corpus_drift_jsd between the src0-9 and
    src10-19 document halves: exact count ratios, 9-dp DECIMAL
    contribution accumulation, top-k attribution."""
    tok = ("SELECT unnest(list_filter(regexp_split_to_array(lower(text), "
           "'\\s+'), x -> length(x) > 0)) AS term FROM {t}")
    return f"""
WITH refd AS (SELECT text FROM documents WHERE substr(source, 4)::INT < 10),
curd AS (SELECT text FROM documents WHERE substr(source, 4)::INT >= 10),
cr AS (SELECT term, count(*)::BIGINT AS n_ref FROM ({tok.format(t='refd')}) GROUP BY term),
cc AS (SELECT term, count(*)::BIGINT AS n_cur FROM ({tok.format(t='curd')}) GROUP BY term),
merged AS (
  SELECT coalesce(cr.term, cc.term) AS term,
         coalesce(n_ref, 0)::BIGINT AS n_ref,
         coalesce(n_cur, 0)::BIGINT AS n_cur
  FROM cr FULL OUTER JOIN cc ON cr.term = cc.term),
tot AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc FROM merged),
scored AS (
  SELECT term, n_ref, n_cur,
         round(
           (CASE WHEN n_ref > 0
                 THEN 0.5 * (n_ref::DOUBLE / tr)
                      * ln((n_ref::DOUBLE / tr)
                           / ((n_ref::DOUBLE / tr + n_cur::DOUBLE / tc) / 2))
                 ELSE 0.0 END)
           + (CASE WHEN n_cur > 0
                   THEN 0.5 * (n_cur::DOUBLE / tc)
                        * ln((n_cur::DOUBLE / tc)
                             / ((n_ref::DOUBLE / tr + n_cur::DOUBLE / tc) / 2))
                   ELSE 0.0 END), 9)::DECIMAL(20,9) AS c9
  FROM merged, tot),
total AS (SELECT round(sum(c9), 6)::DOUBLE AS jsd_total FROM scored)
SELECT term, n_ref, n_cur, c9::DOUBLE AS contrib, jsd_total
FROM (SELECT * FROM scored ORDER BY c9 DESC, term ASC LIMIT {top_k}) z, total"""


def q_item_item_cf(top_k: int = 50, cap: int = 50) -> str:
    """Twin of recsys.item_item_cosine over events (item = props.$.k):
    recency-capped per-user histories, within-user pair fan-out,
    co-occurrence cosine."""
    return f"""
WITH inter AS (
  SELECT user_id AS u,
         try_cast(json_extract_string(props, '$.k') AS BIGINT) AS item,
         max(ts::TIMESTAMP) AS last_ts
  FROM events
  -- NULL users/items excluded before counting (recsys NULL
  -- discipline: a NULL item would steal a cap slot + inflate n_users)
  WHERE user_id IS NOT NULL
    AND try_cast(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
  GROUP BY 1, 2),
hist AS (
  SELECT u, item FROM (
    SELECT u, item, row_number() OVER (
      PARTITION BY u ORDER BY last_ts DESC, item ASC) AS rn
    FROM inter) z
  WHERE rn <= {cap}),
ni AS (SELECT item, count(*)::BIGINT AS n_users FROM hist GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS co_count
  FROM hist a JOIN hist b ON a.u = b.u AND a.item < b.item
  GROUP BY 1, 2),
scored AS (
  SELECT item_a, item_b, na.n_users AS n_a, nb.n_users AS n_b, co_count,
         round(co_count::DOUBLE
               / sqrt((na.n_users * nb.n_users)::DOUBLE), 6) AS cosine
  FROM pairs
  JOIN ni na ON pairs.item_a = na.item
  JOIN ni nb ON pairs.item_b = nb.item)
SELECT item_a, item_b, n_a, n_b, co_count, cosine,
       row_number() OVER (ORDER BY cosine DESC, item_a, item_b)::INT AS rank
FROM (SELECT * FROM scored
      ORDER BY cosine DESC, item_a, item_b LIMIT {top_k}) z"""


def q_burrows_delta(n_words: int = 30, probes: int = 4,
                    top_k: int = 5, probe_mod: int = 125) -> str:
    """Twin of textanalysis.burrows_delta: z-scored relative
    frequencies over the top-N corpus words, DECIMAL moment sums,
    9-dp |dz| accumulation, per-probe nearest-doc ranking."""
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> length(x) > 0) AS toks
  FROM documents),
lens AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tk WHERE len(toks) > 0),
cnt AS (SELECT doc_id, w, count(*)::BIGINT AS c
        FROM (SELECT doc_id, unnest(toks) AS w FROM tk) GROUP BY 1, 2),
top AS (SELECT w FROM (SELECT w, sum(c) AS tot FROM cnt GROUP BY w
                       ORDER BY tot DESC, w ASC LIMIT {n_words}) z),
dense AS (
  SELECT lens.doc_id, top.w,
         round(coalesce(cnt.c, 0)::DOUBLE / lens.dl, 9)::DECIMAL(15,9) AS f
  FROM lens CROSS JOIN top
  LEFT JOIN cnt ON cnt.doc_id = lens.doc_id AND cnt.w = top.w),
mom AS (SELECT w, count(*)::BIGINT AS n, sum(f)::DECIMAL(28,9) AS sf,
               sum(f * f)::DECIMAL(38,18) AS sff
        FROM dense GROUP BY w),
stats AS (
  SELECT * FROM (
    SELECT w, sf::DOUBLE / n AS mu,
           sqrt((n::DOUBLE * sff::DOUBLE - sf::DOUBLE * sf::DOUBLE)
                / (n * n)::DOUBLE) AS sigma
    FROM mom) s
  WHERE sigma > 0),
z AS (SELECT doc_id, w, (f::DOUBLE - mu) / sigma AS z
      FROM dense JOIN stats USING (w)),
probes AS (SELECT doc_id FROM lens WHERE doc_id % {probe_mod} = 0
           ORDER BY doc_id LIMIT {probes}),
pz AS (SELECT z.doc_id AS probe_id, z.w, z.z AS zp
       FROM z JOIN probes ON z.doc_id = probes.doc_id),
pair AS (
  SELECT pz.probe_id, z.doc_id,
         sum(round(abs(z.z - pz.zp), 9)::DECIMAL(20,9))::DECIMAL(28,9) AS sd,
         count(*)::INT AS nw
  FROM z JOIN pz USING (w)
  WHERE z.doc_id != pz.probe_id
  GROUP BY 1, 2)
SELECT probe_id, doc_id, delta, rank::INT AS rank FROM (
  SELECT probe_id, doc_id, round(sd::DOUBLE / nw, 6) AS delta,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY round(sd::DOUBLE / nw, 6) ASC,
                                     doc_id ASC) AS rank
  FROM pair) r
WHERE rank <= {top_k}"""


def q_hill_tail(ks: tuple = (50, 100, 200, 500)) -> str:
    """Twin of stattests.hill_tail_index on o_totalprice: top-(k+1)
    order statistics, 9-dp DECIMAL log accumulation, k sweep."""
    kvals = ", ".join(f"({k})" for k in ks)
    kmax = max(ks)
    return f"""
WITH top AS (
  SELECT o_totalprice::DOUBLE AS v FROM orders
  WHERE o_totalprice > 0 ORDER BY v DESC LIMIT {kmax + 1}),
ranked AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS rnk FROM top),
kdf AS (SELECT * FROM (VALUES {kvals}) AS t(k)),
thr AS (SELECT k, v AS x_threshold FROM ranked JOIN kdf ON rnk = k + 1),
terms AS (
  SELECT kdf.k, thr.x_threshold,
         sum(round(ln(r.v / thr.x_threshold), 9)::DECIMAL(20,9))
           ::DECIMAL(28,9) AS sl
  FROM ranked r CROSS JOIN kdf
  JOIN thr ON thr.k = kdf.k
  WHERE r.rnk <= kdf.k
  GROUP BY kdf.k, thr.x_threshold)
SELECT k::INT AS k, round(x_threshold, 6) AS x_threshold,
       round(sl::DOUBLE / k, 6) AS hill,
       round(1.0 / (sl::DOUBLE / k), 6) AS alpha
FROM terms ORDER BY k"""


def q_ltr_features(k: int = 20) -> str:
    """Twin of search.ltr_features: BM25 ∪ dense top-k candidates per
    query, feature row per candidate (ranks, scores, matched-term
    census, mock cosine, doc length)."""
    return f"""
WITH {bm25_search_ctes(SEARCH_QUERIES, k)}, {mock_dense_ctes(SEARCH_QUERIES, k)},
btop AS (SELECT query_id, doc_id, rank AS bm25_rank, score
         FROM ranked WHERE rank <= {k}),
dtop AS (SELECT query_id, doc_id, rank AS dense_rank
         FROM dranked WHERE rank <= {k}),
cand AS (SELECT DISTINCT query_id, doc_id FROM (
           SELECT query_id, doc_id FROM btop
           UNION ALL SELECT query_id, doc_id FROM dtop) u),
hits AS (
  SELECT qenc.query_id, p.doc_id, count(*)::INT AS n_matched,
         sum(round(terms.idf, 9)::DECIMAL(20,9))::DECIMAL(28,9) AS sum_idf
  FROM post p JOIN qenc USING (term) JOIN terms USING (term)
  GROUP BY 1, 2),
cosf AS (
  SELECT cand.query_id, cand.doc_id, {cosine_expr('e', 'qe')} AS cosine
  FROM cand JOIN dindex USING (doc_id) JOIN dquer USING (query_id)),
dl AS (SELECT doc_id, doc_len::BIGINT AS doc_len FROM tokl)
SELECT cand.query_id, cand.doc_id,
       coalesce(btop.bm25_rank, 0)::INT AS bm25_rank,
       coalesce(dtop.dense_rank, 0)::INT AS dense_rank,
       round(coalesce(btop.score, 0.0), 6) AS bm25_score,
       coalesce(hits.n_matched, 0)::INT AS n_matched,
       round(coalesce(hits.sum_idf::DOUBLE, 0.0), 6) AS sum_idf,
       round(cosf.cosine, 6) AS cosine,
       dl.doc_len
FROM cand
LEFT JOIN btop USING (query_id, doc_id)
LEFT JOIN dtop USING (query_id, doc_id)
LEFT JOIN hits USING (query_id, doc_id)
JOIN cosf USING (query_id, doc_id)
JOIN dl USING (doc_id)"""


def q_market_hhi() -> str:
    """Twin of profiling.market_concentration_hhi: supplier revenue
    shares per nation, 9-dp DECIMAL share² accumulation, x10000 HHI."""
    return """
WITH rev AS (
  -- mirror the Spark derivation exactly (ADVICE r12: the r12 fix
  -- widened only the Spark side; a double accumulation here kept the
  -- half-cent knife-edge alive in the oracle): widen each VALUE to
  -- DECIMAL before the multiply, sum exactly, then reduce scale once.
  -- The explicit round() is load-bearing — DuckDB's decimal->decimal
  -- scale-reduction cast TRUNCATES (1.2350::DEC(30,4)::DEC(18,2) =
  -- 1.23, .1651 -> .16) while Spark's cast rounds HALF_UP; round()
  -- is half-away on both engines and revenue is positive, so
  -- round-then-cast == Spark's cast (sf0.001 supplier 0 sums to
  -- ...678.1651 — a live case, not a hypothetical)
  SELECT l_suppkey,
         round(sum((l_extendedprice::DECIMAL(18,2)
                    * (1::DECIMAL(8,2) - l_discount::DECIMAL(8,2))
                   )::DECIMAL(30,4)), 2)::DECIMAL(18,2) AS srev
  FROM lineitem GROUP BY l_suppkey),
base AS (
  SELECT n.n_name, rev.srev
  FROM rev
  JOIN supplier s ON rev.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey),
ntot AS (
  SELECT n_name, (sum(srev))::DECIMAL(18,2) AS trev,
         count(*)::BIGINT AS n_suppliers, max(srev) AS maxrev
  FROM base GROUP BY n_name),
share2 AS (
  SELECT base.n_name,
         sum(round((srev::DOUBLE / trev::DOUBLE)
                   * (srev::DOUBLE / trev::DOUBLE), 9)::DECIMAL(20,9)
             )::DECIMAL(28,9) AS ss
  FROM base JOIN ntot USING (n_name)
  GROUP BY base.n_name)
SELECT ntot.n_name, n_suppliers, round(trev::DOUBLE, 2) AS total_revenue,
       round(maxrev::DOUBLE / trev::DOUBLE, 6) AS top_share,
       round(10000.0 * ss::DOUBLE, 6) AS hhi
FROM ntot JOIN share2 USING (n_name)"""


def q_cuped(split: str = "2024-01-16 00:00:00", arms: int = 2) -> str:
    """Twin of stattests.cuped_adjust: per-user DECIMAL(18,6) pre/post
    sums, pooled theta, closed-form adjusted group moments."""
    return f"""
WITH pu AS (
  SELECT user_id AS u,
         (sum(CASE WHEN ts::TIMESTAMP < TIMESTAMP '{split}'
                   THEN round(value, 6)::DECIMAL(18,6)
                   ELSE 0 END))::DECIMAL(18,6) AS x,
         (sum(CASE WHEN ts::TIMESTAMP >= TIMESTAMP '{split}'
                   THEN round(value, 6)::DECIMAL(18,6)
                   ELSE 0 END))::DECIMAL(18,6) AS y
  FROM events GROUP BY 1),
pa AS (SELECT (((u % {arms}) + {arms}) % {arms})::INT AS arm, x, y FROM pu),
mom AS (
  SELECT arm, count(*)::BIGINT AS n,
         sum(x)::DECIMAL(38,6) AS sx, sum(y)::DECIMAL(38,6) AS sy,
         sum(x::DECIMAL(19,6) * x::DECIMAL(19,6)) AS sxx,
         sum(y::DECIMAL(19,6) * y::DECIMAL(19,6)) AS syy,
         sum(x::DECIMAL(19,6) * y::DECIMAL(19,6)) AS sxy
  FROM pa GROUP BY arm),
pooled AS (
  SELECT sum(n)::BIGINT AS pn, sum(sx)::DECIMAL(38,6) AS psx,
         sum(sy)::DECIMAL(38,6) AS psy,
         sum(sxx)::DECIMAL(38,12) AS psxx,
         sum(sxy)::DECIMAL(38,12) AS psxy
  FROM mom),
th AS (
  SELECT (pn::DOUBLE * psxy::DOUBLE - psx::DOUBLE * psy::DOUBLE)
         / (pn::DOUBLE * psxx::DOUBLE - psx::DOUBLE * psx::DOUBLE) AS theta,
         psx::DOUBLE / pn::DOUBLE AS xbar
  FROM pooled),
g AS (
  SELECT mom.*, th.theta, th.xbar,
         sy::DOUBLE / n::DOUBLE AS my, sx::DOUBLE / n::DOUBLE AS mx,
         syy::DOUBLE / n::DOUBLE - (sy::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE) AS var_y,
         sxx::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE) * (sx::DOUBLE / n::DOUBLE) AS var_x,
         sxy::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE) * (sy::DOUBLE / n::DOUBLE) AS cov
  FROM mom, th)
SELECT arm, n AS n_users, round(my, 6) AS mean_y,
       round(my - theta * (mx - xbar), 6) AS mean_y_cuped,
       round(var_y, 6) AS var_y,
       round(var_y - 2 * theta * cov + theta * theta * var_x, 6) AS var_y_cuped,
       round(CASE WHEN var_y > 0 THEN 100.0
                  * (var_y - (var_y - 2 * theta * cov + theta * theta * var_x))
                  / var_y END, 6) AS var_reduction_pct,
       round(theta, 6) AS theta
FROM g ORDER BY arm"""


def q_logrank(window_hours: int = 36, target_type: str = "purchase",
              arms: int = 2) -> str:
    """Twin of timeseries.logrank_conversion: hypergeometric O-E and
    variance terms per conversion hour, 9-dp DECIMAL accumulation."""
    horizon = window_hours * 3_600_000_000
    return f"""
WITH per0 AS (
  SELECT user_id,
         min(epoch_us(ts::TIMESTAMP))::BIGINT AS t0,
         min(CASE WHEN event_type = '{target_type}'
                  THEN epoch_us(ts::TIMESTAMP) END)::BIGINT AS tc
  FROM events GROUP BY user_id),
per AS (
  SELECT CASE WHEN tc IS NOT NULL AND tc - t0 < {horizon}
              THEN ((tc - t0) // 3600000000)::INT
              ELSE {window_hours} END AS t,
         CASE WHEN tc IS NOT NULL AND tc - t0 < {horizon}
              THEN 1 ELSE 0 END AS observed,
         CASE WHEN user_id % {arms} = 0 THEN 1 ELSE 0 END AS g0
  FROM per0),
agg AS (
  SELECT t,
         sum(observed * g0)::BIGINT AS d0,
         sum(observed * (1 - g0))::BIGINT AS d1,
         sum((1 - observed) * g0)::BIGINT AS c0,
         sum((1 - observed) * (1 - g0))::BIGINT AS c1
  FROM per GROUP BY t),
tot AS (SELECT sum(g0)::BIGINT AS nu0, sum(1 - g0)::BIGINT AS nu1 FROM per),
risks AS (
  SELECT t, d0, d1, nu0, nu1,
         (nu0 - coalesce(sum(d0 + c0) OVER (
            ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0))::BIGINT AS n0,
         (nu1 - coalesce(sum(d1 + c1) OVER (
            ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0))::BIGINT AS n1
  FROM agg, tot),
terms AS (
  SELECT nu0, nu1, d0,
         CASE WHEN d0 + d1 > 0
              THEN round(d0 - (d0 + d1)::DOUBLE * n0 / (n0 + n1), 9)
              ELSE 0.0 END::DECIMAL(20,9) AS oe,
         CASE WHEN d0 + d1 > 0
              THEN round((d0 + d1)::DOUBLE * n0 / (n0 + n1), 9)
              ELSE 0.0 END::DECIMAL(20,9) AS e9,
         round(CASE WHEN d0 + d1 > 0 AND n0 + n1 > 1
                    THEN (d0 + d1)::DOUBLE * (n0::DOUBLE / (n0 + n1))
                         * (n1::DOUBLE / (n0 + n1))
                         * (n0 + n1 - d0 - d1)::DOUBLE / (n0 + n1 - 1)
                    ELSE 0.0 END, 9)::DECIMAL(20,9) AS v9
  FROM risks)
SELECT nu0 AS n_users_0, nu1 AS n_users_1,
       sum(d0)::BIGINT AS observed_0,
       round((sum(e9))::DOUBLE, 6) AS expected_0,
       round((sum(oe))::DOUBLE * (sum(oe))::DOUBLE / (sum(v9))::DOUBLE, 6)
         AS chi2
FROM terms GROUP BY nu0, nu1"""


def q_knn_clustering(k: int = 5, buckets: int = 10) -> str:
    """Twin of graph.clustering_coefficients over graph.knn_graph_edges:
    integer-exact wedge counts, 9-dp DECIMAL coefficient means, decile
    distribution + global transitivity."""
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
adj AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
deg AS (SELECT u AS id, count(*)::BIGINT AS d FROM adj GROUP BY u),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
tcount AS (
  SELECT id, count(*)::BIGINT AS t
  FROM (SELECT unnest([a, b, c]) AS id FROM tri) s GROUP BY id),
node AS (
  SELECT deg.id, deg.d, coalesce(tcount.t, 0)::BIGINT AS t,
         CASE WHEN deg.d >= 2
              THEN (2 * coalesce(tcount.t, 0))::DOUBLE
                   / (deg.d * (deg.d - 1))
              ELSE 0.0 END AS c
  FROM deg LEFT JOIN tcount USING (id)),
gstats AS (
  SELECT (sum(t) // 3)::BIGINT AS n_triangles,
         sum((d * (d - 1)) // 2)::BIGINT AS n_wedges,
         round(sum(t)::DOUBLE / (sum((d * (d - 1)) // 2))::DOUBLE, 6)
           AS transitivity,
         round((sum(CASE WHEN d >= 2
                         THEN round(c, 9)::DECIMAL(20,9)
                         ELSE 0::DECIMAL(20,9) END))::DOUBLE
               / (sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END))::DOUBLE, 6)
           AS avg_clustering
  FROM node),
dist AS (
  SELECT (least(floor(c * {buckets}), {buckets} - 1))::INT AS bucket,
         count(*)::BIGINT AS n_nodes,
         round((sum(round(c, 9)::DECIMAL(20,9)))::DOUBLE / count(*), 6)
           AS avg_c
  FROM node GROUP BY 1)
SELECT bucket, n_nodes, avg_c, n_triangles, n_wedges, transitivity,
       avg_clustering
FROM dist, gstats ORDER BY bucket"""


def q_price_elasticity(min_obs: int = 50) -> str:
    """Twin of timeseries.price_elasticity: per-brand log-log
    regression of quantity on unit price via regr_* aggregates."""
    return f"""
WITH j AS (
  SELECT p.p_brand, ln(l_quantity) AS ly,
         ln(l_extendedprice / l_quantity) AS lx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0)
SELECT p_brand, count(*)::BIGINT AS n_obs,
       round(regr_slope(ly, lx), 6) AS elasticity,
       round(regr_intercept(ly, lx), 6) AS intercept,
       round(regr_r2(ly, lx), 6) AS r2
FROM j GROUP BY p_brand HAVING count(*) >= {min_obs}"""


def q_forecast_backtest(season: int = 7, holdout: int = 28) -> str:
    """Twin of timeseries.forecast_backtest_snaive: DECIMAL-exact
    seasonal-naive errors on the calendar-bounded day table, MASE
    scaling by the train-period seasonal MAE."""
    return f"""
WITH daily AS (
  SELECT o_orderdate AS day, sum(o_totalprice::DECIMAL(18,2))::DECIMAL(18,2) AS rev
  FROM orders GROUP BY 1),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
idx AS (
  SELECT day, rev, datediff('day', d0, day)::BIGINT AS i,
         datediff('day', d0, d1)::BIGINT AS imax
  FROM daily, bounds),
lag_t AS (SELECT i + {season} AS i, rev AS prev FROM idx),
j AS (
  SELECT idx.day, idx.i, idx.imax, idx.rev, lag_t.prev,
         abs(idx.rev - lag_t.prev)::DECIMAL(18,2) AS ae,
         idx.i > idx.imax - {holdout} AS is_holdout
  FROM idx JOIN lag_t USING (i)),
stats AS (
  -- means count only rows whose error EXISTS (NULL-total days yield
  -- ae NULL, skipped by the numerator sum — the denominator must
  -- skip them too)
  SELECT round((sum(CASE WHEN NOT is_holdout THEN ae END))::DOUBLE
               / (sum(CASE WHEN NOT is_holdout AND ae IS NOT NULL
                           THEN 1 ELSE 0 END))::DOUBLE,
               6) AS mase_denom,
         round((sum(CASE WHEN is_holdout THEN ae END))::DOUBLE
               / (sum(CASE WHEN is_holdout AND ae IS NOT NULL
                           THEN 1 ELSE 0 END))::DOUBLE,
               6) AS mae
  FROM j)
SELECT day::VARCHAR AS day, i::INT AS day_idx,
       round(rev::DOUBLE, 2) AS actual,
       round(prev::DOUBLE, 2) AS forecast,
       round(ae::DOUBLE, 2) AS abs_err,
       mase_denom, mae, round(mae / mase_denom, 6) AS mase
FROM j, stats WHERE is_holdout"""


def q_markov_stationary(iterations: int = 30) -> str:
    """Twin of timeseries.markov_stationary: the identical 30-step
    pico-unit power iteration unrolled as chained CTEs — every term
    floor(x*1e12 + 0.5), so iteration N is a pure function of the
    integer count matrix on both engines."""
    its = []
    for t in range(1, iterations + 1):
        its.append(f"""
it{t} AS MATERIALIZED (
  SELECT g.j AS state,
         (sum(floor((CASE WHEN g.rowtot = 0
                          THEN CASE WHEN g.i = g.j
                               THEN p.micro / 1e12 ELSE 0.0 END
                          ELSE (p.micro / 1e12) * (g.c::DOUBLE / g.rowtot)
                     END) * 1e12 + 0.5)))::BIGINT AS micro
  FROM grid g JOIN it{t - 1} p ON p.state = g.i
  GROUP BY g.j)""")
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_event
  FROM events
  -- NULL-keyed rows excluded before the lag (markov NULL discipline)
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL),
counts AS (
  SELECT prev_event AS a, event_type AS b, count(*)::BIGINT AS c
  FROM seq WHERE prev_event IS NOT NULL GROUP BY 1, 2),
states AS (SELECT DISTINCT s FROM (
  SELECT a AS s FROM counts UNION SELECT b FROM counts) u),
kk AS (SELECT count(*)::BIGINT AS k FROM states),
rt AS (SELECT a, sum(c)::BIGINT AS rowtot FROM counts GROUP BY a),
grid AS MATERIALIZED (
  SELECT s1.s AS i, s2.s AS j, coalesce(c.c, 0)::BIGINT AS c,
         coalesce(rt.rowtot, 0)::BIGINT AS rowtot
  FROM states s1 CROSS JOIN states s2
  LEFT JOIN counts c ON c.a = s1.s AND c.b = s2.s
  LEFT JOIN rt ON rt.a = s1.s),
it0 AS MATERIALIZED (SELECT s AS state, floor(1e12 / k + 0.5)::BIGINT AS micro
        FROM states, kk),{",".join(its)}
SELECT f.state, coalesce(rt.rowtot, 0)::BIGINT AS n_out,
       round(f.micro / 1e12, 6) AS pi,
       round((SELECT floor(1e12 / k + 0.5) / 1e12 FROM kk), 6) AS pi0
FROM it{iterations} f LEFT JOIN rt ON rt.a = f.state"""


def q_textrank_sentences(top_k: int = 3, damping: float = 0.85,
                         iterations: int = 8) -> str:
    """Twin of extract.textrank_sentences: per-doc sentence PageRank
    with the identical 12-dp edge / 9-dp rank quantization, iterations
    unrolled as MATERIALIZED CTEs."""
    its = []
    for t in range(1, iterations + 1):
        its.append(f"""
pr{t} AS MATERIALIZED (
  SELECT n.doc_id, n.id,
         round((1.0 - {damping}) / n.nd
               + {damping} * coalesce(c.s, 0.0), 9) AS pr
  FROM nodes n
  LEFT JOIN (
    SELECT ed.doc_id, ed.dst AS id,
           (sum(round(p.pr * ed.w::DOUBLE / ed.ow::DOUBLE, 12)
                ::DECIMAL(28,12)))::DOUBLE AS s
    FROM ed JOIN pr{t - 1} p
      ON p.doc_id = ed.doc_id AND p.id = ed.src
    GROUP BY ed.doc_id, ed.dst) c
  ON c.doc_id = n.doc_id AND c.id = n.id)""")
    return f"""
WITH segs AS MATERIALIZED (
  SELECT doc_id, r.i - 1 AS sid, trim(parts[r.i]) AS sentence
  FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS parts
        FROM documents) d,
  LATERAL unnest(range(1, len(parts) + 1)) AS r(i)
  WHERE length(trim(parts[r.i])) > 0),
stok AS MATERIALIZED (
  SELECT doc_id, sid,
         list_distinct(list_filter(
           regexp_extract_all(lower(sentence), '{TOKEN_PATTERN}'),
           t -> length(t) >= 2
                AND NOT list_contains({STOPLIST_SQL}, t))) AS toks
  FROM segs),
lens AS (SELECT doc_id, sid, len(toks)::BIGINT AS sl FROM stok),
terms AS (SELECT doc_id, sid, unnest(toks) AS term FROM stok),
overlap AS (
  SELECT a.doc_id, a.sid AS su, b.sid AS sv, count(*)::BIGINT AS ov
  FROM terms a JOIN terms b
    ON a.doc_id = b.doc_id AND a.term = b.term AND a.sid < b.sid
  GROUP BY 1, 2, 3),
wedges AS (
  SELECT o.doc_id, o.su, o.sv,
         round(o.ov::DOUBLE / (ln(la.sl::DOUBLE) + ln(lb.sl::DOUBLE)),
               9)::DECIMAL(20,9) AS w
  FROM overlap o
  JOIN lens la ON la.doc_id = o.doc_id AND la.sid = o.su
  JOIN lens lb ON lb.doc_id = o.doc_id AND lb.sid = o.sv
  WHERE o.ov::DOUBLE / (ln(la.sl::DOUBLE) + ln(lb.sl::DOUBLE)) > 0),
adj AS MATERIALIZED (
  SELECT doc_id, su AS src, sv AS dst, w FROM wedges
  UNION ALL SELECT doc_id, sv AS src, su AS dst, w FROM wedges),
outw AS (SELECT doc_id, src, sum(w)::DECIMAL(28,9) AS ow
         FROM adj GROUP BY 1, 2),
ed AS MATERIALIZED (
  SELECT adj.doc_id, adj.src, adj.dst, adj.w, outw.ow
  FROM adj JOIN outw ON outw.doc_id = adj.doc_id AND outw.src = adj.src),
ndt AS (SELECT doc_id, count(*)::BIGINT AS nd FROM segs GROUP BY doc_id),
nodes AS MATERIALIZED (
  SELECT segs.doc_id, segs.sid AS id, ndt.nd
  FROM segs JOIN ndt USING (doc_id)),
pr0 AS MATERIALIZED (
  SELECT doc_id, id, round(1.0 / nd, 9) AS pr FROM nodes),{",".join(its)},
scored AS (
  SELECT p.doc_id, p.id AS sid,
         round(p.pr * n.nd, 6) AS score
  FROM pr{iterations} p
  JOIN nodes n ON n.doc_id = p.doc_id AND n.id = p.id)
SELECT doc_id, sent_rank::INT AS sent_rank, sid::INT AS sid, sentence,
       score
FROM (
  SELECT s.doc_id, s.sid, s.score, segs.sentence,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY s.score DESC, s.sid ASC) AS sent_rank
  FROM scored s JOIN segs ON segs.doc_id = s.doc_id AND segs.sid = s.sid) z
WHERE sent_rank <= {top_k}"""


def q_referential_integrity() -> str:
    """Twin of profiling.referential_integrity over the TPC-H snowflake
    + the cross-domain events.user_id probe."""
    rels = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
        ("events", "user_id", "customer", "c_custkey"),
    ]
    parts = []
    for c, fk, p, pk in rels:
        parts.append(f"""
SELECT '{c}.{fk} -> {p}.{pk}' AS relation,
       count(*)::BIGINT AS n_child,
       sum(CASE WHEN ch.{fk} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_fk,
       sum(CASE WHEN ch.{fk} IS NOT NULL AND pk.__pk IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_orphans
FROM {c} ch LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {p}) pk
  ON ch.{fk} = pk.__pk""")
    u = " UNION ALL ".join(parts)
    return f"""
SELECT relation, n_child, n_null_fk, n_orphans,
       round(n_orphans::DOUBLE / n_child, 6) AS orphan_pct
FROM ({u}) z"""


def q_markov_attribution(channels: tuple = ("click", "error", "signup",
                                            "view"),
                         target: str = "purchase",
                         iterations: int = 50) -> str:
    """Twin of timeseries.markov_attribution: variant-tagged absorbing
    iteration (full + one removal variant per channel) unrolled as
    MATERIALIZED CTEs with the identical pico-unit quantization."""
    vvals = ", ".join(f"('{c}')" for c in ("__full__",) + tuple(channels))
    its = []
    for t in range(1, iterations + 1):
        its.append(f"""
ap{t} AS MATERIALIZED (
  SELECT vs.variant, vs.state,
         (CASE WHEN vs.state = 'CONV' THEN 1000000000000
               WHEN vs.state = 'NULL' THEN 0
               WHEN vs.state = vs.variant THEN 0
               ELSE coalesce(agg.micro, 0) END)::BIGINT AS micro
  FROM vs LEFT JOIN (
    SELECT p.variant, g.a AS state,
           (sum(floor(((g.c::DOUBLE / g.rowtot) * (p.micro / 1e12))
                      * 1e12 + 0.5)))::BIGINT AS micro
    FROM grid g JOIN ap{t - 1} p ON p.state = g.b
    GROUP BY p.variant, g.a) agg
  ON agg.variant = vs.variant AND agg.state = vs.state)""")
    return f"""
WITH ranked AS (
  SELECT user_id AS u, event_type AS et,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
  -- NULL-keyed rows excluded before the rank (markov NULL discipline)
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND ts IS NOT NULL),
fp AS (SELECT u, min(rn) AS fp FROM ranked WHERE et = '{target}'
       GROUP BY u),
kept AS (
  SELECT r.u, r.rn,
         CASE WHEN r.et = '{target}' THEN 'CONV' ELSE r.et END AS st,
         fp.fp IS NOT NULL AS conv
  FROM ranked r LEFT JOIN fp ON fp.u = r.u
  WHERE fp.fp IS NULL OR r.rn <= fp.fp),
trans AS (
  SELECT coalesce(lag(st) OVER (PARTITION BY u ORDER BY rn),
                  'START') AS a, st AS b
  FROM kept),
lastt AS (SELECT max_by(st, rn) AS a, 'NULL' AS b FROM kept
          WHERE NOT conv GROUP BY u),
counts AS (
  SELECT a, b, count(*)::BIGINT AS c FROM (
    SELECT a, b FROM trans UNION ALL SELECT a, b FROM lastt) z
  GROUP BY a, b),
rt AS (SELECT a, sum(c)::BIGINT AS rowtot FROM counts GROUP BY a),
states AS (SELECT DISTINCT s FROM (
  SELECT a AS s FROM counts UNION SELECT b FROM counts
  UNION SELECT 'CONV' UNION SELECT 'NULL') u),
variants AS (SELECT * FROM (VALUES {vvals}) v(variant)),
vs AS MATERIALIZED (SELECT variant, s AS state FROM variants, states),
grid AS MATERIALIZED (
  SELECT c.a, c.b, c.c, rt.rowtot FROM counts c JOIN rt ON rt.a = c.a),
ap0 AS MATERIALIZED (
  SELECT variant, state,
         (CASE WHEN state = 'CONV' THEN 1000000000000
               ELSE 0 END)::BIGINT AS micro
  FROM vs),{",".join(its)},
res AS (SELECT variant, micro / 1e12 AS p FROM ap{iterations}
        WHERE state = 'START'),
fullp AS (SELECT p AS p_full FROM res WHERE variant = '__full__'),
chan AS (SELECT variant AS channel, p AS p_removed FROM res
         WHERE variant <> '__full__'),
base AS (
  SELECT channel, p_full, p_removed,
         round(1.0 - p_removed / p_full, 9)::DECIMAL(20,9) AS re
  FROM chan, fullp),
tot AS (SELECT sum(re)::DECIMAL(28,9) AS sre FROM base)
SELECT channel, round(p_full, 6) AS p_full,
       round(p_removed, 6) AS p_removed,
       round(re::DOUBLE, 6) AS removal_effect,
       round(re::DOUBLE / sre::DOUBLE, 6) AS attribution
FROM base, tot"""


def q_sequential_patterns(gap_minutes: int = 30, min_sessions: int = 5,
                          top_k: int = 20) -> str:
    """Twin of timeseries.sequential_patterns: gap-based sessions,
    min/max position containment (a before b iff min_pos(a) <
    max_pos(b)), directed pair counts with asymmetry."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts::TIMESTAMP)::BIGINT AS us
  FROM events),
flagged AS (
  SELECT user_id, event_id, event_type, us,
         CASE WHEN us - lag(us) OVER w >= {gap_us} THEN 1 ELSE 0 END AS new_s,
         row_number() OVER w AS pos
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sess AS (
  SELECT user_id AS u, event_type AS item, pos,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS s
  FROM flagged),
spans AS (
  SELECT u, s, item, min(pos)::BIGINT AS minp, max(pos)::BIGINT AS maxp
  FROM sess GROUP BY 1, 2, 3),
ntot AS (SELECT count(*)::BIGINT AS n_total
         FROM (SELECT DISTINCT u, s FROM spans) z),
ab AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_sessions
  FROM spans a JOIN spans b
    ON a.u = b.u AND a.s = b.s AND a.item <> b.item AND a.minp < b.maxp
  GROUP BY 1, 2),
joined AS (
  SELECT ab.item_a, ab.item_b, ab.n_sessions,
         coalesce(r.n_sessions, 0)::BIGINT AS n_reverse
  FROM ab LEFT JOIN ab r
    ON r.item_a = ab.item_b AND r.item_b = ab.item_a
  WHERE ab.n_sessions >= {min_sessions})
SELECT item_a, item_b, n_sessions, n_reverse,
       round(n_sessions::DOUBLE / (n_sessions + n_reverse), 6) AS asymmetry,
       round(n_sessions::DOUBLE / ntot.n_total, 6) AS support
FROM joined, ntot
ORDER BY n_sessions DESC, item_a, item_b LIMIT {top_k}"""


def q_poisson_bootstrap(replicates: int = 200, alpha_pct: int = 5) -> str:
    """Twin of stattests.poisson_bootstrap_mean on o_totalprice:
    derandomized Poisson(1) weights from the shared hash60 ladder,
    explicit-index percentile over sorted replicate means."""
    from semantik_spark.operators.stattests import _POIS1_CDF9
    chain = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF9)
    ) + f" ELSE {len(_POIS1_CDF9)} END"
    lo_i = int((alpha_pct / 100 / 2) * (replicates - 1))
    hi_i = int((1 - alpha_pct / 100 / 2) * (replicates - 1))
    return f"""
WITH reps AS (SELECT unnest(range(0, {replicates}))::INT AS b),
base AS (SELECT o_orderkey AS key,
                round(o_totalprice, 6)::DECIMAL(18,6) AS v
         FROM orders),
ub AS (
  SELECT reps.b, base.v,
         (('0x' || substr(md5('boot:' || base.key::VARCHAR || ':'
                              || reps.b::VARCHAR), 1, 15))::BIGINT)::DOUBLE
         / 1152921504606846976.0 AS u
  FROM base CROSS JOIN reps),
wt AS (SELECT b, v, ({chain})::BIGINT AS w FROM ub),
repmeans AS (
  SELECT b, (sum(w * v))::DOUBLE / sum(w) AS m FROM wt GROUP BY b),
ranked AS (SELECT m, row_number() OVER (ORDER BY m) - 1 AS r
           FROM repmeans),
ci AS (
  SELECT max(CASE WHEN r = {lo_i} THEN m END) AS lo,
         max(CASE WHEN r = {hi_i} THEN m END) AS hi,
         count(*)::INT AS n_replicates
  FROM ranked),
fullm AS (
  SELECT count(*)::BIGINT AS n_rows,
         (sum(round(o_totalprice, 6)::DECIMAL(18,6)))::DOUBLE / count(*)
           AS mean_full
  FROM orders)
SELECT n_rows, round(mean_full, 6) AS mean_full,
       round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi, n_replicates
FROM fullm, ci"""


def q_funnel_wilson(z_milli: int = 1960) -> str:
    """Twin of timeseries.funnel_wilson over the view->click->purchase
    funnel: Wilson score intervals on consecutive-step conversions."""
    z = f"({z_milli}/1000.0)"
    return f"""
WITH e AS (
  SELECT user_id AS u, event_type AS et,
         epoch_us(ts::TIMESTAMP)::BIGINT AS us FROM events),
r0 AS (SELECT u, min(us) AS t FROM e WHERE et = 'view' GROUP BY u),
r1 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r0 USING (u)
       WHERE e.et = 'click' AND e.us > r0.t GROUP BY e.u),
r2 AS (SELECT e.u, min(e.us) AS t FROM e JOIN r1 USING (u)
       WHERE e.et = 'purchase' AND e.us > r1.t GROUP BY e.u),
c AS (
  SELECT 0 AS i, 'view' AS step, count(*)::BIGINT AS n FROM r0
  UNION ALL SELECT 1, 'click', count(*)::BIGINT FROM r1
  UNION ALL SELECT 2, 'purchase', count(*)::BIGINT FROM r2),
j AS (
  SELECT a.step AS step_from, b.step AS step_to,
         a.n AS n_from, b.n AS n_to
  FROM c a JOIN c b ON b.i = a.i + 1),
w AS (
  SELECT step_from, step_to, n_from, n_to,
         n_to::DOUBLE / n_from::DOUBLE AS p,
         n_from::DOUBLE AS n
  FROM j)
SELECT step_from, step_to, n_from, n_to, round(p, 6) AS p,
       round(greatest(0.0,
         (p + {z} * {z} / (2.0 * n)) / (1.0 + {z} * {z} / n)
         - {z} * sqrt(p * (1.0 - p) / n + {z} * {z} / (4.0 * n * n))
           / (1.0 + {z} * {z} / n)), 6) AS ci_lo,
       round(least(1.0,
         (p + {z} * {z} / (2.0 * n)) / (1.0 + {z} * {z} / n)
         + {z} * sqrt(p * (1.0 - p) / n + {z} * {z} / (4.0 * n * n))
           / (1.0 + {z} * {z} / n)), 6) AS ci_hi
FROM w"""


def q_eb_rates() -> str:
    """Twin of stattests.eb_shrunk_rates over per-item (props.$.k)
    purchase rates: 9-dp DECIMAL rate moments, beta-binomial MoM,
    posterior-mean shrinkage with degenerate fallback."""
    return """
WITH per AS (
  SELECT try_cast(json_extract_string(props, '$.k') AS BIGINT) AS item,
         count(*)::BIGINT AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS s
  FROM events GROUP BY 1),
base AS (SELECT item, n, s,
                round(s::DOUBLE / n, 9)::DECIMAL(15,9) AS p FROM per),
mom AS (
  SELECT count(*)::BIGINT AS k, sum(p)::DECIMAL(28,9) AS sp,
         sum(p::DECIMAL(19,9) * p::DECIMAL(19,9)) AS spp
  FROM base),
mv AS (
  SELECT sp::DOUBLE / k::DOUBLE AS m,
         spp::DOUBLE / k::DOUBLE
         - (sp::DOUBLE / k::DOUBLE) * (sp::DOUBLE / k::DOUBLE) AS v
  FROM mom),
params AS (
  SELECT CASE WHEN conc > 0 THEN m * conc END AS alpha,
         CASE WHEN conc > 0 THEN (1.0 - m) * conc END AS beta
  FROM (SELECT m, v,
               CASE WHEN v > 0 AND m > 0 AND m < 1
                    THEN m * (1.0 - m) / v - 1.0 END AS conc
        FROM mv) z)
SELECT item, n, s, round(p::DOUBLE, 6) AS raw_rate,
       round(CASE WHEN alpha IS NOT NULL
                  THEN (s + alpha) / (n + alpha + beta)
                  ELSE p::DOUBLE END, 6) AS eb_rate,
       round(alpha, 6) AS alpha, round(beta, 6) AS beta
FROM base, params"""


def q_ks_family_bh(alpha_milli: int = 50) -> str:
    """Twin of stattests.ks_family_bh over event_type vs rest on
    events.value: dense one-vs-rest KS pass + Benjamini-Hochberg
    reverse-running-min q-values."""
    terms = " + ".join(
        f"round(exp(((-2.0*{j}*{j})*lam)*lam), 9)::DECIMAL(20,9) * {2 if j % 2 == 1 else -2}"
        for j in range(1, 41))
    a = f"({alpha_milli}/1000.0)"
    return f"""
WITH vl AS (SELECT value AS v, event_type AS g, count(*)::BIGINT AS c
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
vals AS (SELECT v, sum(c)::BIGINT AS tot FROM vl GROUP BY v),
groups AS (SELECT DISTINCT g FROM vl),
grid AS (
  SELECT vals.v, groups.g, coalesce(vl.c, 0)::BIGINT AS c, vals.tot
  FROM vals CROSS JOIN groups
  LEFT JOIN vl ON vl.v = vals.v AND vl.g = groups.g),
cum AS (
  SELECT g, sum(c) OVER w AS ca,
         (sum(tot) OVER w - sum(c) OVER w) AS cb
  FROM grid
  WINDOW w AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)),
tots AS (SELECT g, sum(c)::BIGINT AS n_a, sum(tot - c)::BIGINT AS n_b
         FROM grid GROUP BY g),
dmax AS (
  -- HUGEINT widening before the cross products (Spark: DECIMAL(38,0))
  SELECT cum.g, tots.n_a, tots.n_b,
         max(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a))::DECIMAL(38,0) AS num
  FROM cum JOIN tots USING (g) GROUP BY 1, 2, 3),
base AS (
  SELECT g AS group_val, n_a, n_b,
         round(num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE, 6) AS ks_d,
         (sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)) + 0.12
          + 0.11 / sqrt((n_a::HUGEINT * n_b)::DOUBLE / (n_a + n_b)))
         * (num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE) AS lam
  FROM dmax),
withp AS (
  SELECT group_val, n_a, n_b, ks_d,
         CASE WHEN lam < 0.1 THEN 1.0
              ELSE round(least(1.0, greatest(0.0, ({terms})::DOUBLE)), 6)
         END AS p_value
  FROM base),
m AS (SELECT count(*)::BIGINT AS m FROM withp),
ranked AS (
  SELECT w.*, m.m,
         row_number() OVER (ORDER BY p_value, group_val) AS bh_rank
  FROM withp w, m)
SELECT group_val, n_a AS n_group, n_b AS n_rest, ks_d, p_value,
       bh_rank::INT AS bh_rank,
       round(least(1.0, min(p_value * m / bh_rank) OVER (
         ORDER BY bh_rank DESC ROWS UNBOUNDED PRECEDING)), 6) AS q_value,
       round(least(1.0, min(p_value * m / bh_rank) OVER (
         ORDER BY bh_rank DESC ROWS UNBOUNDED PRECEDING)), 6) <= {a}
         AS significant
FROM ranked"""


def q_rank_tau(k: int = 20) -> str:
    """Twin of metrics.rank_correlation_tau: Kendall tau-b over the
    ltr_features candidate table's (bm25_rank, dense_rank) pairs."""
    inner = q_ltr_features(k)
    return f"""
WITH feats AS ({inner}),
f AS (SELECT query_id, doc_id, bm25_rank, dense_rank FROM feats),
pairs AS (
  SELECT a.query_id,
         sign(a.bm25_rank - b.bm25_rank) AS sx,
         sign(a.dense_rank - b.dense_rank) AS sy
  FROM f a JOIN f b
    ON a.query_id = b.query_id AND a.doc_id < b.doc_id),
agg AS (
  SELECT query_id, count(*)::BIGINT AS t_pairs,
         sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END)::BIGINT AS concordant,
         sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END)::BIGINT AS discordant,
         sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END)::BIGINT AS tx,
         sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END)::BIGINT AS ty
  FROM pairs GROUP BY query_id),
n AS (SELECT query_id, count(*)::INT AS n_candidates FROM f GROUP BY query_id)
SELECT agg.query_id, n.n_candidates, agg.concordant, agg.discordant,
       round((concordant - discordant)::DOUBLE
             / sqrt((t_pairs - tx)::DOUBLE * (t_pairs - ty)::DOUBLE),
             6) AS tau_b
FROM agg JOIN n USING (query_id)"""


def q_collocations_llr(min_count: int = 5, top_k: int = 50) -> str:
    """Twin of textanalysis.collocations_llr: Dunning G² from 6-dp
    DECIMAL xlx terms over the 2x2 bigram contingency; the ×2 and the
    4-dp round stay in DECIMAL (half-point-exact on both engines)."""
    xlx = ("(CASE WHEN {c} > 0 THEN round(({c})::DOUBLE * ln(({c})::DOUBLE), 6)"
           " ELSE 0.0 END)::DECIMAL(24,6)")
    return f"""
WITH tk AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents),
bg AS (
  SELECT toks[r.i] AS a, toks[r.i + 1] AS b
  FROM tk, LATERAL unnest(range(1, len(toks))) AS r(i)
  WHERE len(toks) >= 2),
pair AS (SELECT a, b, count(*)::BIGINT AS n_pair FROM bg GROUP BY a, b),
fw AS (SELECT a, count(*)::BIGINT AS n_a FROM bg GROUP BY a),
bw AS (SELECT b, count(*)::BIGINT AS n_b FROM bg GROUP BY b),
tot AS (SELECT count(*)::BIGINT AS nn FROM bg),
j AS (
  SELECT pair.a, pair.b, pair.n_pair, fw.n_a, bw.n_b, tot.nn
  FROM pair JOIN fw USING (a) JOIN bw USING (b) CROSS JOIN tot
  WHERE pair.n_pair >= {min_count}),
scored AS (
  SELECT a AS word_a, b AS word_b, n_pair, n_a, n_b,
         round((({xlx.format(c='n_pair')}
            + {xlx.format(c='n_a - n_pair')}
            + {xlx.format(c='n_b - n_pair')}
            + {xlx.format(c='nn - n_a - n_b + n_pair')}
            - {xlx.format(c='n_a')}
            - {xlx.format(c='nn - n_a')}
            - {xlx.format(c='n_b')}
            - {xlx.format(c='nn - n_b')}
            + {xlx.format(c='nn')})::DECIMAL(32,6) * 2), 4)::DOUBLE AS llr
  FROM j)
SELECT * FROM scored ORDER BY llr DESC, word_a, word_b LIMIT {top_k}"""


def q_knn_harmonic(k: int = 5, hops: int = 3, top_k: int = 20) -> str:
    """Twin of graph.harmonic_centrality over graph.knn_graph_edges:
    unrolled BFS rounds (anti-join dedup), shared 6-dp 1/d weights."""
    rounds = []
    for t in range(2, hops + 1):
        rounds.append(f"""
new{t} AS MATERIALIZED (
  SELECT c.u, c.w, {t} AS d FROM (
    SELECT DISTINCT f.u, a2.v AS w
    FROM new{t - 1} f JOIN adj a2 ON a2.u = f.w
    WHERE f.u <> a2.v) c
  WHERE NOT EXISTS (SELECT 1 FROM best{t - 1} b
                    WHERE b.u = c.u AND b.w = c.w)),
best{t} AS MATERIALIZED (
  SELECT u, w, d FROM best{t - 1}
  UNION ALL SELECT u, w, d FROM new{t})""")
    wcase = "CASE " + " ".join(
        f"WHEN d = {d} THEN {round(1.0 / d, 6)}" for d in range(1, hops + 1)
    ) + " ELSE d::DOUBLE END"
    return f"""
WITH {knn_edges_ctes(k)},
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
best1 AS MATERIALIZED (SELECT u, v AS w, 1 AS d FROM adj),
new1 AS MATERIALIZED (SELECT u, w, d FROM best1),{",".join(rounds)}
SELECT id, n_reached, harmonic FROM (
  SELECT u AS id, count(*)::BIGINT AS n_reached,
         round((sum(({wcase})::DECIMAL(12,6)))::DOUBLE, 6) AS harmonic
  FROM best{hops} GROUP BY u) z
ORDER BY harmonic DESC, id ASC LIMIT {top_k}"""


def q_label_centroids() -> str:
    """Twin of similarity.label_centroid_similarity over embeddings:
    DECIMAL centroid sums, 9-dp per-dimension product accumulation."""
    return """
WITH comp AS (
  SELECT label AS lbl, r.i - 1 AS dim,
         round(embedding[r.i]::DOUBLE, 6)::DECIMAL(18,6) AS x
  FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)),
cent AS (
  SELECT lbl, dim, (sum(x)::DECIMAL(28,6))::DOUBLE / count(*) AS c,
         count(*)::BIGINT AS n
  FROM comp GROUP BY lbl, dim),
sizes AS (SELECT lbl, max(n)::BIGINT AS n_vec FROM cent GROUP BY lbl),
prods AS (
  SELECT a.lbl AS la, b.lbl AS lb,
         sum(round(a.c * b.c, 9)::DECIMAL(28,9))::DECIMAL(38,9) AS dot,
         sum(round(a.c * a.c, 9)::DECIMAL(28,9))::DECIMAL(38,9) AS na2,
         sum(round(b.c * b.c, 9)::DECIMAL(28,9))::DECIMAL(38,9) AS nb2
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.lbl <= b.lbl
  GROUP BY a.lbl, b.lbl)
SELECT la AS label_a, lb AS label_b, sa.n_vec AS n_a, sb.n_vec AS n_b,
       round(dot::DOUBLE / (sqrt(na2::DOUBLE) * sqrt(nb2::DOUBLE)), 6)
         AS cosine
FROM prods
JOIN sizes sa ON sa.lbl = prods.la
JOIN sizes sb ON sb.lbl = prods.lb"""


def q_simpson_audit() -> str:
    """Twin of stattests.simpson_slope_audit: per-brand vs pooled
    regr_slope of quantity on discount over lineitem."""
    return """
WITH j AS (
  SELECT p.p_brand, l.l_discount AS x, l.l_quantity AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
per AS (
  SELECT p_brand::VARCHAR AS stratum, count(*)::BIGINT AS n_obs,
         round(regr_slope(y, x), 6) AS slope,
         round(regr_r2(y, x), 6) AS r2
  FROM j GROUP BY p_brand),
pooled AS (
  SELECT '__pooled__' AS stratum, count(*)::BIGINT AS n_obs,
         round(regr_slope(y, x), 6) AS slope,
         round(regr_r2(y, x), 6) AS r2
  FROM j),
u AS (SELECT * FROM per UNION ALL SELECT * FROM pooled),
ps AS (SELECT slope AS pooled_slope FROM pooled)
SELECT stratum, n_obs, slope, r2, pooled_slope,
       (slope IS NOT NULL AND pooled_slope IS NOT NULL
        AND sign(slope) * sign(pooled_slope) < 0) AS sign_flip
FROM u, ps"""


def q_mutual_information() -> str:
    """Twin of stattests.mutual_information over documents lang x
    source: 9-dp DECIMAL MI/entropy accumulation, Theil's U."""
    return """
WITH obs AS (
  SELECT lang::VARCHAR AS row_val, source::VARCHAR AS col_val,
         count(*)::BIGINT AS n
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2),
rt AS (SELECT row_val, sum(n)::BIGINT AS rt FROM obs GROUP BY row_val),
ct AS (SELECT col_val, sum(n)::BIGINT AS ct FROM obs GROUP BY col_val),
tot AS (SELECT sum(n)::BIGINT AS nn FROM obs),
cells AS (
  SELECT obs.row_val, obs.col_val, obs.n,
         round((obs.n::DOUBLE / nn)
               * ln((obs.n::DOUBLE / nn)
                    / ((rt::DOUBLE / nn) * (ct::DOUBLE / nn))),
               9)::DECIMAL(20,9) AS t9
  FROM obs JOIN rt USING (row_val) JOIN ct USING (col_val)
  CROSS JOIN tot),
mi AS (SELECT sum(t9)::DECIMAL(28,9) AS smi FROM cells),
hr AS (SELECT sum(round(-(rt::DOUBLE / nn) * ln(rt::DOUBLE / nn),
                        9)::DECIMAL(20,9))::DECIMAL(28,9) AS h_row
       FROM rt, tot),
hc AS (SELECT sum(round(-(ct::DOUBLE / nn) * ln(ct::DOUBLE / nn),
                        9)::DECIMAL(20,9))::DECIMAL(28,9) AS h_col
       FROM ct, tot)
SELECT row_val, col_val, n, t9::DOUBLE AS mi_term,
       round(smi::DOUBLE, 6) AS mi_total,
       round(h_row::DOUBLE, 6) AS h_row,
       round(h_col::DOUBLE, 6) AS h_col,
       round(smi::DOUBLE / h_row::DOUBLE, 6) AS u_row_given_col,
       round(smi::DOUBLE / h_col::DOUBLE, 6) AS u_col_given_row
FROM cells, mi, hr, hc"""


def q_cohens_kappa() -> str:
    """Twin of metrics.cohens_kappa over the NB held-out predictions:
    wraps the nb_classify twin and computes chance-corrected
    agreement."""
    inner = q_nb_classify(5, "lang")
    return f"""
WITH nb AS ({inner}),
-- NULL labels/predictions excluded before counting (the kappa NULL
-- discipline — mirrors metrics.cohens_kappa)
base AS (SELECT label AS y, predicted AS p FROM nb
         WHERE label IS NOT NULL AND predicted IS NOT NULL),
tot AS (SELECT count(*)::BIGINT AS n,
               sum(CASE WHEN y = p THEN 1 ELSE 0 END)::BIGINT AS n_agree
        FROM base),
rws AS (SELECT y, count(*)::BIGINT AS r FROM base GROUP BY y),
cls AS (SELECT p, count(*)::BIGINT AS c FROM base GROUP BY p),
pe AS (
  SELECT sum(round((r::DOUBLE / n) * (c::DOUBLE / n), 9)::DECIMAL(20,9)
             )::DECIMAL(28,9) AS pe
  FROM rws JOIN cls ON rws.y = cls.p CROSS JOIN tot)
SELECT n, n_agree,
       round(n_agree::DOUBLE / n, 6) AS accuracy,
       round(pe::DOUBLE, 6) AS expected_accuracy,
       round((n_agree::DOUBLE / n - pe::DOUBLE) / (1.0 - pe::DOUBLE), 6)
         AS kappa
FROM tot, pe"""


def q_ljung_box(acf_sql: str, n_lags: int = 3) -> str:
    """Twin of timeseries.ljung_box: wraps the events_acf twin
    (passed in as ``acf_sql``) and folds Q = n(n+2)·Σ r²/(n−k) with
    9-dp DECIMAL terms against the df critical value."""
    crit = {1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
            6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307}
    if not 1 <= n_lags <= 10:
        raise ValueError(f"ljung_box oracle supports 1..10 lags, got {n_lags}")
    # critical value looked up by the PER-GROUP df (count of non-null
    # ACF terms), mirroring timeseries.ljung_box's short-series rule
    cv = " ".join(f"WHEN {k} THEN {v}" for k, v in sorted(crit.items()))
    return f"""
WITH acf_rows AS ({acf_sql}),
agg AS (
  SELECT event_type, n_days,
         sum(round((acf * acf) / (n_days - lag)::DOUBLE, 9)
             ::DECIMAL(20,9))::DECIMAL(28,9) AS s,
         count(acf)::INT AS df
  FROM acf_rows GROUP BY event_type, n_days)
SELECT event_type, n_days,
       round(s * (n_days * (n_days + 2)), 6)::DOUBLE AS q_stat,
       df,
       round(s * (n_days * (n_days + 2)), 6)::DOUBLE
         > (CASE df {cv} END) AS q_exceeds_05
FROM agg"""


def q_roc_auc(quality_sql: str) -> str:
    """Twin of metrics.roc_auc_exact on stopword_ratio predicting
    lang='en': composes the text_quality twin, then the doubled-rank
    U fold and the Hanley-McNeil SE."""
    return f"""
WITH tq AS ({quality_sql}),
base AS (
  SELECT round(tq.stopword_ratio, 6) AS v,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM tq JOIN documents d USING (doc_id)
  WHERE tq.stopword_ratio IS NOT NULL AND d.lang IS NOT NULL),
vl AS (SELECT v, sum(y)::BIGINT AS np, sum(1 - y)::BIGINT AS nn
       FROM base GROUP BY v),
ranked AS (
  SELECT np, nn, np + nn AS t,
         coalesce(sum(np + nn) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0)::BIGINT AS c
  FROM vl),
agg AS (
  -- HUGEINT widening before the doubled-rank product (np*2c ~ n²
  -- wraps BIGINT at 100 TB; Spark twin uses DECIMAL(38,0))
  SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
         sum(np::HUGEINT * (2 * c::HUGEINT + t + 1))::DECIMAL(38,0) AS rp2
  FROM ranked),
au AS (
  SELECT n_pos, n_neg,
         (rp2::DOUBLE / 2 - (n_pos::HUGEINT * (n_pos + 1))::DOUBLE / 2)
         / (n_pos::HUGEINT * n_neg)::DOUBLE AS auc
  FROM agg)
SELECT n_pos, n_neg, round(auc, 6) AS auc,
       round(sqrt((auc * (1.0 - auc)
                   + (n_pos - 1)::DOUBLE * (auc / (2.0 - auc) - auc * auc)
                   + (n_neg - 1)::DOUBLE
                     * (2.0 * auc * auc / (1.0 + auc) - auc * auc))
                  / (n_pos::HUGEINT * n_neg)::DOUBLE), 6) AS se
FROM au"""


def q_pacf_daily(max_lag: int = 7) -> str:
    """Twin of timeseries.pacf_daily: the generalized-lag ACF block
    (events_acf's shape at lags 1..max_lag) + the Durbin-Levinson
    recursion unrolled as MATERIALIZED CTEs with identical pico-unit
    quantization."""
    leads = ",\n".join(
        f"         (lead(x, {k}) OVER w * n - s)::DECIMAL(18,0) AS c{k}"
        for k in range(1, max_lag + 1))
    sums = ",\n".join(
        f"         sum(c0 * c{k}) AS n{k}" for k in range(1, max_lag + 1))
    case = " ".join(
        f"WHEN {k} THEN n{k}" for k in range(1, max_lag + 1))
    lagvals = ", ".join(f"({k})" for k in range(1, max_lag + 1))
    blocks = []
    for k in range(2, max_lag + 1):
        blocks.append(f"""
sn{k} AS (
  SELECT p.g, sum(floor((p.phi / 1e12) * r.acf * 1e12 + 0.5))::BIGINT AS sn
  FROM phi{k - 1} p JOIN acf_rows r
    ON r.g = p.g AND r.lag = {k} - p.j
  GROUP BY p.g),
sd{k} AS (
  SELECT p.g, sum(floor((p.phi / 1e12) * r.acf * 1e12 + 0.5))::BIGINT AS sd
  FROM phi{k - 1} p JOIN acf_rows r ON r.g = p.g AND r.lag = p.j
  GROUP BY p.g),
kk{k} AS MATERIALIZED (
  SELECT a.g,
         (CASE WHEN (1.0 - coalesce(sd{k}.sd, 0) / 1e12) = 0.0 THEN 0
               ELSE floor(((a.acf - coalesce(sn{k}.sn, 0) / 1e12)
                           / (1.0 - coalesce(sd{k}.sd, 0) / 1e12))
                          * 1e12 + 0.5) END)::BIGINT AS kk
  FROM acf_rows a
  LEFT JOIN sn{k} ON sn{k}.g = a.g
  LEFT JOIN sd{k} ON sd{k}.g = a.g
  WHERE a.lag = {k}),
phi{k} AS MATERIALIZED (
  SELECT p.g, p.j,
         floor((p.phi / 1e12 - (kk{k}.kk / 1e12) * (pp.phi / 1e12))
               * 1e12 + 0.5)::BIGINT AS phi
  FROM phi{k - 1} p
  JOIN kk{k} ON kk{k}.g = p.g
  JOIN phi{k - 1} pp ON pp.g = p.g AND pp.j = {k} - p.j
  UNION ALL SELECT g, {k} AS j, kk AS phi FROM kk{k})""")
    punion = "\nUNION ALL ".join(
        f"SELECT g, {k} AS lag, phi FROM phi{k} WHERE j = {k}"
        for k in range(1, max_lag + 1))
    return f"""
WITH span AS (
  SELECT date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1 FROM events
), cal AS (
  SELECT g, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span CROSS JOIN (SELECT DISTINCT event_type AS g FROM events)
), counts AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2
), dense AS (
  SELECT cal.g, cal.day, coalesce(x, 0)::DECIMAL(18,0) AS x
  FROM cal LEFT JOIN counts ON cal.g = counts.g AND cal.day = counts.day
), stats AS (
  SELECT g, sum(x)::DECIMAL(18,0) AS s, count(*)::DECIMAL(18,0) AS n
  FROM dense GROUP BY 1
), wid AS (
  SELECT dense.g, n,
         (x * n - s)::DECIMAL(18,0) AS c0,
{leads}
  FROM dense JOIN stats ON dense.g = stats.g
  WINDOW w AS (PARTITION BY dense.g ORDER BY day)
), agg AS (
  SELECT g, max(n)::BIGINT AS n_days, sum(c0 * c0) AS den,
{sums}
  FROM wid GROUP BY 1
), acf_rows AS MATERIALIZED (
  SELECT g, n_days, l.lag,
         round((CASE l.lag {case} END)::DOUBLE / den::DOUBLE, 6) AS acf
  FROM agg CROSS JOIN (VALUES {lagvals}) AS l(lag)
),
phi1 AS MATERIALIZED (
  SELECT g, 1 AS j, floor(acf * 1e12 + 0.5)::BIGINT AS phi
  FROM acf_rows WHERE lag = 1),{",".join(blocks)},
pacfu AS ({punion})
SELECT a.g AS event_type, a.n_days, a.lag, a.acf,
       round(p.phi / 1e12, 6) AS pacf
FROM acf_rows a JOIN pacfu p ON p.g = a.g AND p.lag = a.lag"""


def q_brown_forsythe() -> str:
    """Twin of stattests.brown_forsythe on events.value by event_type:
    value-level group medians, 6-dp DECIMAL z moments, closed-form
    one-way F over |x - median_g|."""
    return """
WITH vl AS (SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT g, v, c,
         sum(c) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cc,
         sum(c) OVER (PARTITION BY g) AS n
  FROM vl),
med AS (
  SELECT g,
         (max(CASE WHEN cc - c < floor((n + 1) / 2)
                    AND cc >= floor((n + 1) / 2) THEN v END)
          + max(CASE WHEN cc - c < floor((n + 2) / 2)
                      AND cc >= floor((n + 2) / 2) THEN v END)) / 2 AS med
  FROM cum
  WHERE (cc - c < floor((n + 1) / 2) AND cc >= floor((n + 1) / 2))
     OR (cc - c < floor((n + 2) / 2) AND cc >= floor((n + 2) / 2))
  GROUP BY g),
z AS (
  SELECT vl.g, vl.c, med.med,
         round(abs(vl.v - med.med), 6)::DECIMAL(18,6) AS z
  FROM vl JOIN med USING (g)),
gm AS (
  SELECT g, med, sum(c)::BIGINT AS n,
         sum(z * c::DECIMAL(12,0))::DECIMAL(28,6) AS sz,
         sum((z * z)::DECIMAL(25,6) * c::DECIMAL(12,0))::DECIMAL(38,6) AS szz
  FROM z GROUP BY g, med),
tot AS (SELECT sum(n)::BIGINT AS nn, sum(sz)::DECIMAL(38,6) AS tsz,
               count(*)::INT AS k FROM gm),
per AS (
  SELECT g, n, med, sz::DOUBLE / n AS mad,
         round(n * (sz::DOUBLE / n - tsz::DOUBLE / nn)
                 * (sz::DOUBLE / n - tsz::DOUBLE / nn),
               9)::DECIMAL(28,9) AS b9,
         round(szz::DOUBLE
               - n * (sz::DOUBLE / n) * (sz::DOUBLE / n),
               9)::DECIMAL(28,9) AS w9,
         nn, k
  FROM gm, tot),
agg AS (
  SELECT nn, k, sum(b9)::DECIMAL(38,9) AS sb, sum(w9)::DECIMAL(38,9) AS sw
  FROM per GROUP BY nn, k),
stats AS (
  SELECT round((sb::DOUBLE / (k - 1)::DOUBLE)
               / (sw::DOUBLE / (nn - k)::DOUBLE), 6) AS f_stat,
         (k - 1)::INT AS df1, (nn - k)::INT AS df2
  FROM agg)
SELECT g AS group_val, n, round(med::DOUBLE, 6) AS median,
       round(mad, 6) AS mean_absdev, f_stat, df1, df2
FROM per, stats"""

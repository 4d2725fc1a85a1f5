"""Build/serve split: serving against the persisted index must return
exactly what the build-and-query-in-one-run operators return."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantik_spark.operators import bm25, search, serving

QUERIES = [("q1", "stream merge"), ("q2", "filter token")]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(120).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("token stream merge filter scan doc "), F.col("id"),
            F.lit(" with shared vocabulary terms"),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def index_path(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("serve") / "index")
    serving.build_index(corpus, path)
    return path


def _rows(df, cols=("query_id", "doc_id", "rank")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_bm25_serve_matches_inline_search(spark, corpus, index_path):
    qdf = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    inline = bm25.search(corpus, qdf, k=10)
    served = serving.bm25_serve(spark, index_path, qdf, k=10)
    assert _rows(served) == _rows(inline)


def test_dense_serve_matches_inline_search(spark, corpus, index_path):
    qdf = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    inline = search.mock_dense_search(corpus, qdf, k=10)
    served = serving.dense_serve(spark, index_path, qdf, k=10)
    assert _rows(served) == _rows(inline)


def test_hybrid_serve_matches_inline_search(spark, corpus, index_path):
    qdf = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    inline = search.hybrid_search(corpus, qdf, k=10, search_k=20)
    served = serving.hybrid_serve(spark, index_path, qdf, k=10, search_k=20)
    assert _rows(served) == _rows(inline)


def test_serve_reads_prune_columns(spark, index_path):
    """The dense serve scan must read only (doc_id, embedding) — column
    pruning reaching the parquet scan is what makes late
    materialization real at 100 TB. The query side is plan literals
    expanded beside the scan: no join, so the corpus never shuffles to
    meet it, and the one exchange is the top-k's."""
    qdf = spark.createDataFrame(QUERIES, ["query_id", "query_text"])
    plan = serving.dense_serve(spark, index_path, qdf, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Generate inline" in plan and "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning(query_id") == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,embedding:array<double>>" in plan, plan


def test_dense_serve_ivf_full_probe_equals_exact(spark, tmp_path):
    """nprobe == n_centroids → every cell read → identical to the
    exact dense_serve ranking."""
    from semantik_spark.operators.serving import (
        build_dense_ivf, build_index, dense_serve, dense_serve_ivf,
    )

    docs = spark.createDataFrame(
        [(i, f"document about topic {i % 7} item {i}") for i in range(80)],
        ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [("q1", "topic 3 item"), ("q2", "document about")],
        ["query_id", "query_text"])
    idx = str(tmp_path / "idx")
    build_index(docs, idx)
    build_dense_ivf(docs, idx, n_centroids=8)
    exact = sorted((r["query_id"], r["rank"], r["doc_id"])
                   for r in dense_serve(spark, idx, qdf, k=5).collect())
    ivf = sorted((r["query_id"], r["rank"], r["doc_id"])
                 for r in dense_serve_ivf(spark, idx, qdf, k=5, nprobe=8).collect())
    assert ivf == exact

    # partial probe: a subset with TRUE cosine scores (never invented)
    escore = {(r["query_id"], r["doc_id"]): r["score"]
              for r in dense_serve(spark, idx, qdf, k=80).collect()}
    part = dense_serve_ivf(spark, idx, qdf, k=5, nprobe=2).collect()
    assert 0 < len(part) <= 10
    for r in part:
        assert abs(escore[(r["query_id"], r["doc_id"])] - r["score"]) < 1e-9


def test_dense_serve_filtered_pushes_predicate(spark, tmp_path):
    """Payload-filtered dense serving: the predicate must reach the
    parquet scan as a pushed filter (pre-ranking), and ranking must run
    on the filtered subset so k is filled from eligible docs only."""
    from semantik_spark.operators.serving import build_index, dense_serve

    docs = spark.range(60).selectExpr(
        "id as doc_id",
        "concat('alpha beta doc ', id) as text",
        "case when id % 3 = 0 then 'en' else 'de' end as lang",
    )
    idx = str(tmp_path / "idx")
    build_index(docs, idx, payload_cols=("lang",))
    qs = spark.createDataFrame([("q1", "alpha beta")], ["query_id", "query_text"])
    hits = dense_serve(spark, idx, qs, predicate={"lang": "en"}, k=5)
    rows = hits.collect()
    assert len(rows) == 5
    assert all(r["doc_id"] % 3 == 0 for r in rows)  # only eligible docs ranked
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_dense_serve_ivf_filtered_composes_pruning(spark, tmp_path):
    """Filtered IVF serving: partition pruning on probed cells AND the
    payload predicate pushdown must compose on one scan."""
    from semantik_spark.operators.serving import build_dense_ivf, dense_serve_ivf

    docs = spark.range(60).selectExpr(
        "id as doc_id",
        "concat('alpha beta doc ', id) as text",
        "case when id % 3 = 0 then 'en' else 'de' end as lang",
    )
    idx = str(tmp_path / "ivf")
    build_dense_ivf(docs, idx, n_centroids=4, payload_cols=("lang",))
    qs = spark.createDataFrame([("q1", "alpha beta")], ["query_id", "query_text"])
    hits = dense_serve_ivf(spark, idx, qs, k=3, nprobe=2, predicate={"lang": "en"})
    rows = hits.collect()
    assert 1 <= len(rows) <= 3
    assert all(r["doc_id"] % 3 == 0 for r in rows)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "PartitionFilters: [centroid_id" in plan


def test_ivfpq_serve_equals_in_one_run_operator(spark, tmp_path):
    """The persisted IVFADC layout serves bit-identical rows to
    similarity.knn_ivfpq at equal parameters — training, encode
    tie-breaks, probe ranking, ADC reconstruction and rescore all
    replay through the on-disk (codes + codebooks + full) tables."""
    import random

    from semantik_spark.operators import serving, similarity

    rnd = random.Random(7)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    corpus = emb.where("vec_id >= 6")
    queries = emb.where("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    ref = similarity.knn_ivfpq(corpus, queries, k=5, dim=64, n_centroids=8,
                               nprobe=3, m=8, pq_centroids=8, rescore_k=15)
    idx = str(tmp_path / "ivfpq")
    serving.write_ivfpq_index(corpus, idx, dim=64, n_centroids=8, m=8,
                              pq_centroids=8, refine_iters=1)
    got = serving.ivfpq_serve(spark, idx, queries, k=5, nprobe=3, rescore_k=15)
    norm = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["vec_id"], round(r["cos"], 10), r["rank"])
        for r in df.collect())
    assert norm(ref) == norm(got)


def test_ivf_append_equals_one_shot_frozen_codebook_build(spark, tmp_path):
    """FAISS train-vs-add: appending a delta to a base-trained index
    (a) lands every delta vector in the cell the FROZEN codebook
    assigns, (b) serves bit-identically to an index holding the same
    rows written in one shot under the same codebook, and (c) keeps
    cell-directory partition pruning intact (appends go under existing
    centroid_id dirs)."""
    import os

    from pyspark.sql import functions as F

    from semantik_spark.operators.serving import (
        build_dense_ivf, dense_serve_ivf, ivf_append,
    )
    from semantik_spark.operators.similarity import (
        _codebook_df, _nearest_centroids,
    )
    from semantik_spark.functions.vectors import mock_embedding

    docs = spark.createDataFrame(
        [(i, f"document about topic {i % 7} item {i}") for i in range(80)],
        ["doc_id", "text"])
    base, delta = docs.where("doc_id % 4 != 0"), docs.where("doc_id % 4 = 0")
    idx = str(tmp_path / "idx")
    build_dense_ivf(base, idx, n_centroids=8)
    pre_dirs = {d for d in os.listdir(f"{idx}/dense_ivf")
                if d.startswith("centroid_id=")}
    ivf_append(spark, idx, delta)

    # (a) frozen-codebook assignment agreement
    cents = [{"cid": int(r["cid"]), "cv": list(r["cv"])}
             for r in spark.read.parquet(f"{idx}/codebook").collect()]
    cb = F.broadcast(_codebook_df(spark, sorted(cents, key=lambda r: r["cid"])))
    expect_cells = {
        r["doc_id"]: r["cell"]
        for r in docs.select("doc_id", mock_embedding("text").cast("array<double>").alias("embedding"))
        .crossJoin(cb)
        .select("doc_id", (-F.array_max(_nearest_centroids("embedding"))["negcid"]).alias("cell"))
        .collect()
    }
    stored = spark.read.parquet(f"{idx}/dense_ivf").select("doc_id", "centroid_id").collect()
    assert len(stored) == 80  # base + delta, no dup, no loss
    for r in stored:
        assert expect_cells[r["doc_id"]] == r["centroid_id"]

    # (b) serve equality vs one-shot write of the same assigned rows
    ref = str(tmp_path / "ref")
    os.makedirs(ref)
    spark.read.parquet(f"{idx}/dense_ivf") \
        .withColumn("centroid_id", F.col("centroid_id").cast("bigint")) \
        .write.partitionBy("centroid_id").parquet(f"{ref}/dense_ivf")
    spark.read.parquet(f"{idx}/codebook").write.parquet(f"{ref}/codebook")
    qdf = spark.createDataFrame(
        [("q1", "topic 3 item"), ("q2", "document about")],
        ["query_id", "query_text"])
    norm = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect())
    assert norm(dense_serve_ivf(spark, idx, qdf, k=5, nprobe=3)) == \
        norm(dense_serve_ivf(spark, ref, qdf, k=5, nprobe=3))

    # (c) appends created no out-of-codebook directories
    post_dirs = {d for d in os.listdir(f"{idx}/dense_ivf")
                 if d.startswith("centroid_id=")}
    valid = {f"centroid_id={c['cid']}" for c in cents}
    assert pre_dirs <= post_dirs <= valid


def test_codebook_store_follows_rebuild_in_place(spark, tmp_path):
    """The driver codebook store is keyed by each codebook directory's
    part-file names, which every write job stamps fresh: after IVF and
    IVFPQ are rebuilt into the SAME root with different docs and
    n_centroids, serving and ivf_append must match a fresh build at a
    new root — never reuse the previous build's cached codebooks."""
    import random

    from semantik_spark.operators.serving import (
        build_dense_ivf, dense_serve_ivf, ivf_append, ivfpq_serve,
        write_ivfpq_index,
    )

    rnd = random.Random(11)
    vecs = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(90)],
        "vec_id bigint, embedding array<double>")
    docs = spark.createDataFrame(
        [(i, f"document about topic {i % 7} item {i}") for i in range(80)],
        ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [("q1", "topic 3 item"), ("q2", "document about")],
        ["query_id", "query_text"])
    vq = vecs.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))

    def build(root, lo, n_cells):
        build_dense_ivf(docs.where(f"doc_id >= {lo}"), root, n_centroids=n_cells)
        write_ivfpq_index(vecs.where(f"vec_id >= {lo + 4}"), root, dim=64,
                          n_centroids=n_cells, m=8, pq_centroids=4)

    def served(root):
        ivf = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                     for r in dense_serve_ivf(spark, root, qdf, k=5, nprobe=2).collect())
        pq = sorted((r["query_id"], r["rank"], r["vec_id"], r["cos"])
                    for r in ivfpq_serve(spark, root, vq, k=5, nprobe=2,
                                         rescore_k=10).collect())
        return ivf, pq

    root, fresh = str(tmp_path / "root"), str(tmp_path / "fresh")
    build(root, 0, 8)
    first = served(root)  # fills the store with the first build's codebooks
    build(root, 10, 4)
    build(fresh, 10, 4)
    assert served(root) == served(fresh) != first
    delta = docs.where("doc_id < 10")
    ivf_append(spark, root, delta)
    ivf_append(spark, fresh, delta)
    assert served(root) == served(fresh)


def test_table_store_follows_in_place_rewrites(spark, tmp_path):
    """Every serve read takes its schema from the index-table store,
    keyed by each directory's data-file listing. Once a serve has filled
    the store, an in-place rebuild of dense/ with a payload column must
    serve a predicate on that column, and after merge_dense_append and
    delete_from_index the appended doc must be served and the deleted
    one gone in dense, ivf and hybrid — never a stale schema."""
    from semantik_spark.operators.serving import (
        build_dense_ivf, build_index, delete_from_index, dense_serve,
        dense_serve_ivf, hybrid_serve, ivf_append, merge_dense_append,
        merge_sparse_append,
    )

    docs = spark.range(60).selectExpr(
        "id as doc_id",
        "concat('alpha beta doc ', id) as text",
        "case when id % 3 = 0 then 'en' else 'de' end as lang",
    )
    root = str(tmp_path / "root")
    build_index(docs, root)
    build_dense_ivf(docs, root, n_centroids=4)

    def served(text):
        q = spark.createDataFrame([("q1", text)], ["query_id", "query_text"])
        return {name: [r["doc_id"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
                for name, out in (
                    ("dense", dense_serve(spark, root, q, k=5)),
                    ("ivf", dense_serve_ivf(spark, root, q, k=5, nprobe=2)),
                    ("hybrid", hybrid_serve(spark, root, q, k=5)))}

    assert all(ids for ids in served("alpha beta").values())  # fills the store
    build_index(docs, root, payload_cols=("lang",))
    qs = spark.createDataFrame([("q1", "alpha beta")], ["query_id", "query_text"])
    hits = dense_serve(spark, root, qs, k=5, predicate={"lang": "en"}).collect()
    assert len(hits) == 5 and all(r["doc_id"] % 3 == 0 for r in hits), hits

    new = spark.createDataFrame([(100, "zyzzyva marker appended", "en")],
                                "doc_id bigint, text string, lang string")
    merge_sparse_append(new, root)
    merge_dense_append(new, root, payload_cols=("lang",))
    ivf_append(spark, root, new)
    delete_from_index(spark, root, docs.where("doc_id = 7").select("doc_id", "text"))
    for name, ids in served("zyzzyva marker appended").items():
        assert ids[0] == 100, (name, ids)
    for name, ids in served("alpha beta doc 7").items():
        assert ids and 7 not in ids, (name, ids)


def test_hybrid_serve_approx_full_width_equals_exact(spark, tmp_path):
    """With nprobe = n_centroids and keep >= corpus, the approximate
    hybrid path degrades to the exact one — identical fused rankings;
    with narrow settings it still returns plausible fused rows with
    true branch scores."""
    from semantik_spark.operators.serving import (
        build_dense_ivf, build_index, build_sparse_pruned, hybrid_serve,
        hybrid_serve_approx,
    )

    docs = spark.createDataFrame(
        [(i, f"document about topic {i % 7} item {i}") for i in range(80)],
        ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [("q1", "topic 3 item"), ("q2", "document about")],
        ["query_id", "query_text"])
    idx = str(tmp_path / "idx")
    build_index(docs, idx)
    build_dense_ivf(docs, idx, n_centroids=8)
    build_sparse_pruned(spark, idx, keep=10_000)
    norm = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect())
    assert norm(hybrid_serve_approx(spark, idx, qdf, k=5, nprobe=8)) == \
        norm(hybrid_serve(spark, idx, qdf, k=5))

    build_sparse_pruned(spark, idx, keep=8)
    part = hybrid_serve_approx(spark, idx, qdf, k=5, nprobe=2).collect()
    assert 0 < len(part) <= 10
    assert all(r["score"] > 0 for r in part)


def test_delete_from_index_propagates_everywhere_and_terms_stay_exact(spark, tmp_path):
    """Erasure cascade: deleted ids vanish from dense/ and postings/,
    land in tombstones/, and the retracted terms table EQUALS a fresh
    build over the remaining corpus (df decrement, zero-df terms gone,
    avgdl shrunk) — the abelian-group property of the mergeable
    state."""
    from semantik_spark.operators.serving import build_index, delete_from_index

    docs = spark.createDataFrame(
        [(i, f"shared words plus unique{i} token{i % 3}") for i in range(20)]
        + [(99, "onlyhere solitary vocabulary")],
        ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_index(docs, idx)
    gone = docs.where("doc_id >= 15")  # includes 99: kills 'onlyhere' etc.
    delete_from_index(spark, idx, gone)

    gone_ids = {r["doc_id"] for r in gone.collect()}
    for sub in ("dense", "postings"):
        left = {r["doc_id"] for r in spark.read.parquet(f"{idx}/{sub}")
                .select("doc_id").distinct().collect()}
        assert left.isdisjoint(gone_ids), sub
        assert left == {i for i in range(15)}
    tombs = {r["doc_id"] for r in spark.read.parquet(f"{idx}/tombstones").collect()}
    assert tombs == gone_ids

    ref = str(tmp_path / "ref")
    build_index(docs.where("doc_id < 15"), ref)
    norm = lambda p: sorted(  # noqa: E731
        (r["term"], r["term_id"], r["df"], round(r["idf"], 10))
        for r in spark.read.parquet(f"{p}/terms").collect())
    assert norm(idx) == norm(ref)
    assert not any(t == "onlyhere" for t, *_ in norm(idx))


def test_multi_delta_append_delete_replay_equals_rebuild_each_step(spark, tmp_path):
    """The production sync loop at APPEND scale (VERDICT r7 item 9):
    3 appends with a GDPR delete interleaved, and after EVERY step the
    merged terms table equals a from-scratch build over the corpus as
    of that step — not just at the end, so a single-step cancellation
    bug can't hide inside a lucky final state."""
    from semantik_spark.operators.serving import (
        build_index, delete_from_index, merge_sparse_append,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha shared{i % 4} beta unique{i} gamma token{i % 7}")
         for i in range(40)],
        ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    slices = [docs.where(f"doc_id % 4 = {i}") for i in range(4)]

    def terms_of(path):
        return sorted(
            (r["term"], r["term_id"], r["df"], round(r["idf"], 10))
            for r in spark.read.parquet(f"{path}/terms").collect())

    def assert_equals_rebuild(step, live_pred):
        ref = str(tmp_path / f"ref{step}")
        build_index(docs.where(live_pred), ref)
        assert terms_of(idx) == terms_of(ref), f"step {step}: {live_pred}"

    build_index(slices[0], idx)
    assert_equals_rebuild(0, "doc_id % 4 = 0")
    merge_sparse_append(slices[1], idx)
    assert_equals_rebuild(1, "doc_id % 4 < 2")
    # GDPR: erase indexed doc_id % 5 = 2; suppression list holds after
    delete_from_index(
        spark, idx, docs.where("doc_id % 4 < 2 AND doc_id % 5 = 2"))
    assert_equals_rebuild(2, "doc_id % 4 < 2 AND doc_id % 5 <> 2")
    merge_sparse_append(slices[2].where("doc_id % 5 <> 2"), idx)
    assert_equals_rebuild(3, "doc_id % 4 < 3 AND doc_id % 5 <> 2")
    merge_sparse_append(slices[3].where("doc_id % 5 <> 2"), idx)
    assert_equals_rebuild(4, "doc_id % 5 <> 2")


def test_merge_dense_append_then_delete_equals_rebuild(spark, tmp_path):
    """Dense side of the composed sync loop (VERDICT r8 item 6):
    build + dense append + cascade delete + dense append must leave
    dense/ row-identical to a from-scratch build over the survivors
    (embeddings are per-doc, so set equality IS state equality)."""
    from semantik_spark.operators.serving import (
        build_index, delete_from_index, merge_dense_append,
        merge_sparse_append,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha shared{i % 4} beta unique{i}") for i in range(30)],
        ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    slices = [docs.where(f"doc_id % 3 = {i}") for i in range(3)]
    build_index(slices[0], idx)
    merge_sparse_append(slices[1], idx)
    merge_dense_append(slices[1], idx)
    delete_from_index(
        spark, idx, docs.where("doc_id % 3 < 2 AND doc_id % 7 = 3"))
    last = slices[2].where("doc_id % 7 <> 3")
    merge_sparse_append(last, idx)
    merge_dense_append(last, idx)
    ref = str(tmp_path / "ref")
    build_index(docs.where("doc_id % 7 <> 3"), ref)

    def dense_of(path):
        return sorted(
            (r["doc_id"], tuple(round(x, 10) for x in r["embedding"]))
            for r in spark.read.parquet(f"{path}/dense").collect())

    assert dense_of(idx) == dense_of(ref)


def test_driver_side_twins_are_bit_identical_to_columns(spark):
    """The probe-planning contract dense_serve_ivf/ivfpq_serve stand
    on: _mock_embedding_py and _cosine_py must produce BIT-identical
    doubles to the mock_embedding / cosine Column expressions — a
    single ULP of drift and the driver picks different probe cells
    than the executors would score. Pinned over a diverse string
    sample (unicode, whitespace, long, numeric) with exact ==, no
    tolerance."""
    from pyspark.sql import functions as F

    from semantik_spark.functions.vectors import cosine, mock_embedding
    from semantik_spark.operators.serving import (
        _cosine_py,
        _mock_embedding_py,
    )

    texts = (["", " ", "a", "hello world", "Hello, World!", "émigré café",
              "日本語のテキスト", "x" * 5000, "123.456e-7", "\ttab\nnewline",
              "the quick brown fox jumps over the lazy dog"]
             + [f"doc-{i}-{i * 31 % 97}" for i in range(50)])
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["i", "text"])
    rows = (df.select("i", "text",
                      mock_embedding("text").alias("v"))
            .withColumn("c", cosine("v", F.reverse("v")))
            .collect())
    assert len(rows) == len(texts)
    for r in rows:
        pv = _mock_embedding_py(r["text"])
        assert list(r["v"]) == pv, (r["text"], r["v"], pv)  # exact ==
        assert r["c"] == _cosine_py(pv, list(reversed(pv))), r["text"]
    # the builders memoize by column name: two named calls share one
    # expression, a Column argument builds a fresh one, and both
    # evaluate to the same bits
    assert mock_embedding("text") is mock_embedding("text")
    assert cosine("v", "w") is cosine("v", "w")
    assert mock_embedding(F.col("text")) is not mock_embedding(F.col("text"))
    named = (df.select("i", mock_embedding("text").alias("v"))
             .withColumn("w", F.reverse("v"))
             .select("i", "v", cosine("v", "w").alias("c")))
    built = (df.select("i", mock_embedding(F.col("text")).alias("v"))
             .withColumn("w", F.reverse("v"))
             .select("i", "v", cosine(F.col("v"), F.col("w")).alias("c")))
    assert sorted(named.collect()) == sorted(built.collect())


def test_delete_cascade_reaches_every_artifact_and_is_idempotent(spark, tmp_path):
    """GDPR erasure must remove the doc from the approximate layouts
    (dense_ivf, postings_pruned, ivfpq_full) too, and a RETRIED delete
    (the normal erasure-pipeline case) must be a no-op instead of
    double-decrementing the mergeable state."""
    from semantik_spark.operators.serving import (
        build_dense_ivf,
        build_index,
        build_sparse_pruned,
        delete_from_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha shared{i % 4} beta unique{i}") for i in range(30)],
        ["doc_id", "text"])
    idx = str(tmp_path / "gidx")
    build_index(docs, idx)
    build_dense_ivf(docs, idx, n_centroids=4)
    build_sparse_pruned(spark, idx, keep=8)

    gone = docs.where("doc_id % 3 = 0")
    delete_from_index(spark, idx, gone)
    gone_ids = {r["doc_id"] for r in gone.collect()}
    for sub in ("dense", "postings", "dense_ivf", "postings_pruned"):
        left = {r["doc_id"] for r in spark.read.parquet(f"{idx}/{sub}")
                .select("doc_id").distinct().collect()}
        assert left.isdisjoint(gone_ids), sub

    # dense_ivf keeps its partition layout (pruning still works)
    import os
    assert any(d.startswith("centroid_id=")
               for d in os.listdir(f"{idx}/dense_ivf"))

    # retry: same request again — state must be unchanged
    before = spark.read.parquet(f"{idx}/bm25_state/corpus").collect()
    delete_from_index(spark, idx, gone)
    after = spark.read.parquet(f"{idx}/bm25_state/corpus").collect()
    assert before == after
    ref = str(tmp_path / "gref")
    build_index(docs.where("doc_id % 3 <> 0"), ref)
    t = lambda p: sorted(  # noqa: E731
        (r["term"], r["df"]) for r in spark.read.parquet(f"{p}/terms").collect())
    assert t(idx) == t(ref)


def test_ivf_serve_accepts_integer_query_ids(spark, tmp_path):
    """The driver-planned probes table keeps the caller's query-id
    type; a hardcoded string schema rejected integer-keyed batches on
    the IVF paths only."""
    from semantik_spark.operators.serving import build_dense_ivf, dense_serve_ivf

    docs = spark.createDataFrame(
        [(i, f"alpha beta unique{i}") for i in range(20)], ["doc_id", "text"])
    idx = str(tmp_path / "iidx")
    build_dense_ivf(docs, idx, n_centroids=4)
    q = spark.createDataFrame([(7, "alpha unique3")],
                              ["query_id", "query_text"])
    rows = dense_serve_ivf(spark, idx, q, k=3).collect()
    assert rows and all(r["query_id"] == 7 for r in rows)


def test_merge_sparse_append_replay_after_crash_before_swap(spark, tmp_path):
    """Replay safety of the append path's commit ordering (ADVICE r10):
    postings/terms are written BEFORE the _last_batch marker swap, so a
    crash between them leaves the marker old and the streaming replay
    re-runs the whole merge — which must CONVERGE: exactly one copy of
    the batch's postings rows (batch-prefixed files from the crashed
    attempt are removed) and a terms table equal to a full rebuild.
    The old order (swap first) made the replay a fenced no-op with the
    batch's postings permanently missing."""
    from semantik_spark.functions import statedir
    from semantik_spark.operators import serving

    docs = spark.createDataFrame(
        [(i, f"alpha shared{i % 3} beta unique{i}") for i in range(12)],
        ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    serving.build_sparse(docs.where("doc_id < 8"), idx)
    delta = docs.where("doc_id >= 8")

    # crash AT the swap: postings + terms already written, marker not
    real_swap = statedir.publish
    def exploding_swap(*a, **kw):
        raise RuntimeError("simulated crash before marker swap")
    statedir.publish = exploding_swap
    try:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="simulated crash"):
            serving.merge_sparse_append(delta, idx, batch_id=7)
    finally:
        statedir.publish = real_swap
    assert statedir.last_batch(f"{idx}/bm25_state") is None  # marker never advanced

    # the streaming replay re-runs the SAME batch — must converge
    serving.merge_sparse_append(delta, idx, batch_id=7)
    assert statedir.last_batch(f"{idx}/bm25_state") == 7

    post = spark.read.parquet(f"{idx}/postings")
    dup = (post.groupBy("doc_id", "term").count().where("count > 1").count())
    assert dup == 0, "replay duplicated the batch's postings rows"
    assert {r["doc_id"] for r in post.select("doc_id").distinct().collect()} \
        == {str(i) if isinstance(i, str) else i for i in range(12)}

    ref = str(tmp_path / "ref")
    serving.build_sparse(docs, ref)
    norm = lambda p: sorted(  # noqa: E731
        (r["term"], r["term_id"], r["df"], round(r["idf"], 10))
        for r in spark.read.parquet(f"{p}/terms").collect())
    assert norm(idx) == norm(ref)

    # a second replay of the already-committed batch is a fenced no-op
    serving.merge_sparse_append(delta, idx, batch_id=7)
    assert spark.read.parquet(f"{idx}/postings").count() == post.count()


def test_delete_from_index_erases_zero_token_docs(spark, tmp_path):
    """Erasure presence authority (ADVICE r10): a doc whose text yields
    ZERO BM25 tokens (stopword-only) has no postings rows but is still
    servable from dense/ and counted in n_docs — its deletion request
    must not be silently filtered out by a postings-only live-id set.
    After the cascade: dense row gone, tombstone written, terms/state
    equal a rebuild over the survivors (n_docs retracted)."""
    from semantik_spark.operators.serving import build_index, delete_from_index

    docs = spark.createDataFrame(
        [(1, "alpha unique1 beta"), (2, "gamma unique2 delta"),
         (3, "the of and to a in is it")],   # all stopwords: 0 tokens
        ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    build_index(docs, idx)
    post_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/postings")
                .select("doc_id").distinct().collect()}
    assert 3 not in post_ids, "fixture regression: doc 3 must be token-free"

    delete_from_index(spark, idx, docs.where("doc_id = 3"))

    dense_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/dense")
                 .select("doc_id").distinct().collect()}
    assert 3 not in dense_ids, "zero-token doc still servable from dense/"
    tombs = {r["doc_id"] for r in
             spark.read.parquet(f"{idx}/tombstones").collect()}
    assert tombs == {3}

    ref = str(tmp_path / "ref")
    build_index(docs.where("doc_id <> 3"), ref)
    norm = lambda p: sorted(  # noqa: E731
        (r["term"], r["term_id"], r["df"], round(r["idf"], 10))
        for r in spark.read.parquet(f"{p}/terms").collect())
    assert norm(idx) == norm(ref)
    n_docs = spark.read.parquet(f"{idx}/bm25_state/corpus") \
        .collect()[0]["n_docs"]
    assert n_docs == 2, "n_docs not retracted for the zero-token doc"


def test_replace_batch_postings_converges_after_partial_move(spark, tmp_path):
    """A crash MID-move leaves some batch-prefixed files in postings/;
    the replay must remove them before re-moving, converging to exactly
    one copy of the batch's rows (idempotence of the per-batch append,
    the other half of the merge_sparse_append crash-window fix)."""
    import glob
    import os

    from semantik_spark.operators import serving

    idx = str(tmp_path / "idx")
    os.makedirs(f"{idx}/postings")
    post = spark.createDataFrame(
        [(i, f"t{i % 3}", 1, 0.5) for i in range(30)],
        "doc_id long, term string, tf long, weight double").repartition(4)

    serving._replace_batch_postings(post, idx, batch_id=3)
    files = glob.glob(f"{idx}/postings/batch3-*")
    assert files, "no batch-prefixed files landed"
    # simulate the crashed attempt: delete one moved file (as if the
    # crash happened before it moved) — rows are now partial
    os.remove(files[0])
    partial = spark.read.parquet(f"{idx}/postings").count()
    assert partial < 30

    # replay: leftovers removed, full set re-moved, exactly one copy
    serving._replace_batch_postings(post, idx, batch_id=3)
    again = spark.read.parquet(f"{idx}/postings")
    assert again.count() == 30
    assert again.groupBy("doc_id", "term").count().where("count > 1").count() == 0


@pytest.mark.parametrize("qids", [(1, 2), ("qa", "qb")], ids=["int", "string"])
def test_driver_rrf_is_bit_identical_to_spark_fusion(spark, qids):
    """hybrid_serve fuses its collected branches on the driver
    (serving._rrf_fuse_local); every value and column type must equal
    search.rrf_fuse over the same ranked branches: RRF ties broken by
    doc_id, docs only one branch ranked, a query the sparse branch
    missed and an empty sparse branch, for int and string query ids."""
    from semantik_spark.session import local_df

    a, b = qids
    qtype = "bigint" if isinstance(a, int) else "string"
    ddl = f"query_id {qtype}, doc_id bigint, score double, rank int"
    dense = [(a, 10, 0.9, 1), (a, 11, 0.8, 2), (a, 12, 0.7, 3), (a, 13, 0.7, 4),
             (b, 10, 0.5, 1), (b, 14, 0.4, 2)]
    sparse = [(a, 12, 7.5, 1), (a, 15, 3.0, 2), (a, 10, 1.0, 3), (a, 16, 1.0, 4)]
    qi = {a: 1, b: 2}

    def branches(d, s):  # the (branch, qi, ...) union _hybrid_branches builds
        return local_df(spark, [(br, qi[q], *rest) for br, rs in ((0, d), (1, s))
                                for q, *rest in rs],
                        "branch int, qi int, doc_id bigint, score double, rank int")

    def rows(df):
        return ([(f.name, f.dataType.simpleString()) for f in df.schema],
                sorted(tuple(r) for r in df.collect()))

    for d, s in ((dense, sparse), (dense, []), (sparse, dense)):
        for k in (2, 3, 10):
            want = rows(search.rrf_fuse(local_df(spark, d, ddl), local_df(spark, s, ddl), k=k))
            assert rows(serving._rrf_fuse_local(spark, branches(d, s), [a, b], qtype, k)) \
                == want, (k, want)


def test_scan_frames_follow_sparse_writes(spark, tmp_path):
    """The kept scan DataFrames live in the index-table store entries,
    keyed by each directory's data-file listing. After
    merge_sparse_append and after delete_from_index, bm25_serve and
    hybrid_serve on the warm store must return exactly what they return
    from an empty store: a term first queried while outside the
    vocabulary must be found once a doc brings it in, and a deleted doc
    must be gone."""
    from semantik_spark.operators.serving import (
        build_index, bm25_serve, delete_from_index, hybrid_serve,
        merge_sparse_append,
    )
    from semantik_spark.session import local_df

    docs = spark.range(40).selectExpr("id as doc_id",
                                      "concat('alpha beta doc ', id) as text")
    root = str(tmp_path / "root")
    build_index(docs, root)
    q = local_df(spark, [("q1", "alpha zyzzyva"), ("q2", "beta doc 3")],
                 "query_id string, query_text string")

    def served():
        return {name: sorted(tuple(r) for r in fn().collect())
                for name, fn in (("bm25", lambda: bm25_serve(spark, root, q, k=5)),
                                 ("hybrid", lambda: hybrid_serve(spark, root, q, k=5)))}

    def cold():
        serving._TABLES.clear()
        return served()

    first = served()  # fills the scan frames
    assert all("scan" in serving._TABLES[f"{root}/{t}"][2] for t in ("terms", "postings"))
    assert first == cold()
    merge_sparse_append(spark.createDataFrame(
        [(100, "zyzzyva zyzzyva marker")], "doc_id bigint, text string"), root)
    warm = served()
    assert warm == cold()
    assert [r for r in warm["bm25"] if r[0] == "q1" and r[3] == 1][0][1] == 100, warm
    delete_from_index(spark, root, docs.where("doc_id = 3").select("doc_id", "text"))
    warm = served()
    assert warm == cold()
    assert all(r[1] != 3 for rs in warm.values() for r in rs), warm


def test_serve_paths_keep_atomic_query_id_types(spark, corpus, index_path, tmp_path):
    """Every serve path (bm25_serve, dense_serve, hybrid_serve,
    dense_serve_ivf, hybrid_serve_approx, and ivfpq_serve over a vector
    batch) carries each query's position in its plan literals, never
    its id, so a query_id of any atomic type comes back with its value
    and type: the rows of a batch keyed by string (quotes and
    backslashes included), date, timestamp, decimal and binary ids
    equal the rows of the same batch keyed by int, ids swapped — and so
    do rerank's over hybrid_serve. Nested id types are refused up
    front on every path."""
    import datetime
    import random
    import shutil
    from decimal import Decimal

    from semantik_spark.operators import rerank
    from semantik_spark.session import local_df

    texts = ["stream merge", "filter token", None]
    keyed = {
        "int": [3, 1, 2],
        "string": ["it's", "back\\slash\\'", "日本"],
        "date": [datetime.date(2024, 1, d) for d in (3, 1, 2)],
        "timestamp": [datetime.datetime(2024, 1, 1, 12, 0, s) for s in (3, 1, 2)],
        "decimal(10,2)": [Decimal("3.25"), Decimal("1.50"), Decimal("2.00")],
        "binary": [bytearray(b"c\x00"), bytearray(b"a"), bytearray(b"b")],
    }
    ivf = str(tmp_path / "ivf")
    shutil.copytree(index_path, ivf)
    serving.build_dense_ivf(corpus, ivf, n_centroids=4)
    serving.build_sparse_pruned(spark, ivf, keep=8)
    rnd = random.Random(5)
    vecs = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    pq = str(tmp_path / "pq")
    serving.write_ivfpq_index(
        local_df(spark, list(enumerate(vecs)), "vec_id bigint, embedding array<double>"),
        pq, dim=64, n_centroids=4, m=8, pq_centroids=4)
    paths = {  # each takes the text batch and the vector batch
        "bm25": lambda q, v: serving.bm25_serve(spark, index_path, q, k=5),
        "dense": lambda q, v: serving.dense_serve(spark, index_path, q, k=5),
        "hybrid": lambda q, v: serving.hybrid_serve(spark, index_path, q, k=5),
        "ivf": lambda q, v: serving.dense_serve_ivf(spark, ivf, q, k=5, nprobe=2),
        "hybrid_approx": lambda q, v: serving.hybrid_serve_approx(spark, ivf, q, k=5,
                                                                  nprobe=2),
        "ivfpq": lambda q, v: serving.ivfpq_serve(spark, pq, v, k=3, nprobe=2, rescore_k=6),
        "rerank": lambda q, v: rerank.rerank(serving.hybrid_serve(spark, index_path, q, k=10),
                                             q, corpus, k=5),
    }

    def key(v):
        return bytes(v) if isinstance(v, bytearray) else v

    def served(qtype):
        q = local_df(spark, list(zip(keyed[qtype], texts)),
                     f"query_id {qtype}, query_text string")
        v = local_df(spark, list(zip(keyed[qtype], vecs[-3:])),
                     f"query_id {qtype}, query_vec array<double>")
        pos = {key(r[0]): i for i, r in enumerate(q.collect())}
        out = {}
        for name, fn in paths.items():
            df = fn(q, v)
            assert df.schema["query_id"].dataType.simpleString() == qtype, (name, df.schema)
            out[name] = sorted((pos[key(r[0])], *r[1:]) for r in df.collect())
        return out

    want = served("int")
    assert all(want.values())
    for qtype in keyed:
        assert served(qtype) == want, qtype
    nested = local_df(spark, [([1], "stream")], "query_id array<int>, query_text string")
    nested_vec = local_df(spark, [([1], vecs[0])], "query_id array<int>, query_vec array<double>")
    for name, fn in paths.items():
        if name != "rerank":  # rerank's first stage is hybrid_serve
            with pytest.raises(TypeError, match="atomic type"):
                fn(nested, nested_vec)


def test_null_query_text_serves_like_the_column_path(spark, corpus, index_path, tmp_path):
    """A NULL query text embeds to NULL, as the mock_embedding Column
    does, so every doc scores 0.0 for it: dense_serve, a full-probe
    dense_serve_ivf and hybrid_serve return what the in-one-run Column
    operators return for the batch [NULL, "None"]. The IVF path once
    embedded str(None) and returned the hits of the text "None"."""
    from semantik_spark.operators.serving import (
        _cosine_py, _text_vec, build_dense_ivf, dense_serve, dense_serve_ivf,
        hybrid_serve,
    )
    from semantik_spark.session import local_df

    assert _text_vec(None) is None and _cosine_py(None, [1.0, 0.0]) == 0.0
    qdf = local_df(spark, [("qn", None), ("qs", "None")],
                   "query_id string, query_text string")
    ivf = str(tmp_path / "ivf")
    build_dense_ivf(corpus, ivf, n_centroids=4)
    dense_cols = ("query_id", "doc_id", "rank", "score")
    inline = _rows(search.mock_dense_search(corpus, qdf, k=10), dense_cols)
    assert [r for r in inline if r[0] == "qn"] == \
        [("qn", i, i + 1, 0.0) for i in range(10)]
    assert _rows(dense_serve(spark, index_path, qdf, k=10), dense_cols) == inline
    assert _rows(dense_serve_ivf(spark, ivf, qdf, k=10, nprobe=4), dense_cols) == inline
    hybrid_cols = ("query_id", "doc_id", "rank", "score", "dense_rank", "sparse_rank")
    assert _rows(hybrid_serve(spark, index_path, qdf, k=10, search_k=20), hybrid_cols) \
        == _rows(search.hybrid_search(corpus, qdf, k=10, search_k=20), hybrid_cols)


def test_sql_literals_round_trip_exactly(spark):
    """The serve paths hand their driver-built query rows to Spark as SQL
    literals (serving._sql_literal): every value must parse back
    bit-for-bit — doubles at the edges of the range, signed zero, NaN
    and ±Infinity (a caller's query_vec reaches ivfpq_serve's plan as a
    literal), quotes, backslashes, unicode and newlines in strings,
    NULLs, and nested arrays and structs — with the string-escape
    parser setting on and off, and the literal folds to one constant."""
    import math
    from decimal import Decimal

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from semantik_spark.operators.serving import _sql_literal

    typed = [(0.1, "double"), (1 / 3, "double"), (-2.5e-308, "double"),
             (5e-324, "double"), (1.7976931348623157e308, "double"), (-0.0, "double"),
             (1e16, "double"), (123456789.123456789, "double"), (math.nan, "double"),
             (math.inf, "double"), (-math.inf, "double"), ("it's", "string"),
             ("back\\slash\\'", "string"), ("日本語 émigré 🙂", "string"),
             ("line\nbreak\ttab", "string"), ("", "string"), (None, "string"),
             (0, "int"), (-7, "int"), (2**62, "bigint"),
             ([0.1, None, 1e-300], "array<double>"),
             ({"a": "q1", "b": 0.25}, "struct<a: string, b: double>"),
             ([{"a": "a", "b": [1.5]}, {"a": None, "b": None}],
              "array<struct<a: string, b: array<double>>>")]
    ddl = "struct<" + ", ".join(f"c{i}: {t}" for i, (_, t) in enumerate(typed)) + ">"
    lit = _sql_literal({f"c{i}": v for i, (v, _) in enumerate(typed)}, ddl)

    def plain(v):
        if isinstance(v, Row):
            return v.asDict(recursive=True)
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    conf = "spark.sql.parser.escapedStringLiterals"
    try:
        for escaped in ("false", "true"):
            spark.conf.set(conf, escaped)
            df = spark.range(1).select(F.expr(lit).alias("s"))
            assert "from_json" not in df._jdf.queryExecution().optimizedPlan().toString()
            for (v, _), g in zip(typed, df.first()["s"]):
                if isinstance(v, float) and math.isnan(v):
                    assert isinstance(g, float) and math.isnan(g), (escaped, g)
                    continue
                assert plain(g) == v, (escaped, v, g)
                if isinstance(v, float):
                    assert repr(g) == repr(v), (v, g)  # signed zero too
    finally:
        spark.conf.unset(conf)
    with pytest.raises(TypeError):  # never coerced to another value
        _sql_literal([Decimal("1.5")], "array<decimal(2,1)>")

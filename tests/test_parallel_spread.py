"""spread() contract tests (r13 optimization round).

spread() unlocks N-way compute for kernels whose broadcast fan-out
would otherwise fuse into a single-task scan stage (guide §2.5); its
contract has two halves the optimizations rely on:

  1. scale-adaptivity — it is a provable NO-OP once the input already
     carries >= defaultParallelism partitions (so at production scale
     it never adds a corpus-wide shuffle);
  2. value-neutrality — every kernel it was applied to computes
     per-row/exact-aggregate values whose results cannot depend on row
     placement, so any repartitioning yields identical rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantik_spark.functions.parallel import spread


def test_spread_raises_single_partition_to_default(spark):
    df = spark.range(100).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same rows, key-partitioned
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_spread_noop_at_production_partition_counts(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 4)
    out = spread(df, "id")
    # no-op: the SAME plan object comes back, no exchange added
    assert out is df


def test_knn_kernels_placement_free(spark):
    """knn_bruteforce (the template for every spread site in
    similarity.py) returns identical rows for a 1-partition and an
    N-partition copy of the same corpus — the value-neutrality the
    spread() calls rely on."""
    from semantik_spark.operators.similarity import knn_bruteforce

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (i + 1)).cast("double")
                  for i in range(8)]).alias("embedding"),
    )
    qs = spark.range(3).select(
        F.col("id").alias("query_id"),
        F.array(*[F.cos(F.col("id") * (i + 1)).cast("double")
                  for i in range(8)]).alias("query_vec"),
    )
    one = knn_bruteforce(emb.coalesce(1), qs, k=5).collect()
    many = knn_bruteforce(emb.repartition(16, "vec_id"), qs, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(((r["query_id"], r["rank"], r["vec_id"]) for r in one)) == \
        sorted(((r["query_id"], r["rank"], r["vec_id"]) for r in many))


def test_poisson_bootstrap_placement_free(spark):
    """The replicate aggregates are exact bigint×DECIMAL sums: the CI
    is identical however the input is partitioned (the property that
    made the 74s→4.5s spread legal)."""
    from semantik_spark.operators.stattests import poisson_bootstrap_mean

    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 101).cast("double").alias("v"),
    )
    a = poisson_bootstrap_mean(df.coalesce(1), "v", "k",
                               replicates=20).collect()[0]
    b = poisson_bootstrap_mean(df.repartition(16, "k"), "v", "k",
                               replicates=20).collect()[0]
    assert a.asDict() == b.asDict()


def test_concurrently_returns_in_call_order():
    """Results come back in submission order regardless of completion
    order (the serving paths unpack them positionally)."""
    import time

    from semantik_spark.functions.parallel import concurrently

    def slow():
        time.sleep(0.2)
        return "slow"

    assert concurrently(slow, lambda: "fast") == ["slow", "fast"]
    assert concurrently(lambda: 42) == [42]


def test_concurrently_with_no_thunks_returns_empty():
    """An empty group (e.g. a cascade whose optional artifacts all
    turned out absent) is a no-op, not a thread-pool ValueError."""
    from semantik_spark.functions.parallel import concurrently

    assert concurrently() == []


def test_concurrently_propagates_first_error():
    """A failing thunk must fail the whole group — a silently skipped
    artifact write would corrupt an index build — and the others still
    run to completion first (no half-cancelled pool)."""
    import pytest

    from semantik_spark.functions.parallel import concurrently

    ran = []

    def ok():
        ran.append("ok")

    def boom():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        concurrently(boom, ok)
    assert ran == ["ok"]


def test_concurrently_keeps_every_error():
    """With two failing thunks the first (in call order) is raised and
    the second rides along as a note — neither message is lost."""
    import traceback

    import pytest

    from semantik_spark.functions.parallel import concurrently

    def boom(msg):
        def run():
            raise RuntimeError(msg)
        return run

    with pytest.raises(RuntimeError, match="first failure") as ei:
        concurrently(boom("first failure"), lambda: None,
                     boom("second failure"))
    assert any("second failure" in n for n in ei.value.__notes__)
    shown = "".join(traceback.format_exception(ei.value))
    assert "first failure" in shown and "second failure" in shown


def test_build_index_concurrent_writes_equal_artifacts(spark, tmp_path):
    """build_index's overlapped artifact writes (§2.6) produce exactly
    the artifacts the sequential order did: terms==state-derived terms,
    postings join cleanly, dense row count matches the corpus."""
    from semantik_spark.operators import serving

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id").cast("string"),
                 F.lit(" gamma")).alias("text"),
    )
    idx = str(tmp_path / "idx")
    serving.build_index(docs, idx)
    terms = spark.read.parquet(f"{idx}/terms")
    post = spark.read.parquet(f"{idx}/postings")
    dense = spark.read.parquet(f"{idx}/dense")
    state_t = spark.read.parquet(f"{idx}/bm25_state/terms")
    assert dense.count() == 40
    # vocabulary agrees across the concurrently-written artifacts
    vocab_terms = {r["term"] for r in terms.select("term").collect()}
    vocab_state = {r["term"] for r in state_t.select("term").collect()}
    vocab_post = {r["term"] for r in post.select("term").distinct().collect()}
    assert vocab_terms == vocab_state
    assert vocab_post <= vocab_terms

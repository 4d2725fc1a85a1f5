"""Similarity search over an embedding column (ARRAY<FLOAT>).

Two physical strategies for the same logical top-k-by-cosine:

  knn_bruteforce — exact: broadcast the query batch against the corpus
                   scan; one pass, zip_with/aggregate dot products in
                   whole-stage codegen; window top-k per query.
                   O(|corpus|·|queries|) work but ZERO index build —
                   correct v1 and the correctness oracle for ANN.

  knn_lsh        — approximate: random-hyperplane LSH (deterministic
                   hyperplanes derived from hash60 so the oracle can
                   replay them). Corpus is bucketed by an nbits-bit
                   sign signature; queries probe their own bucket plus
                   hamming-1 neighbors; exact cosine re-rank within
                   candidates. At 100 TB the bucket column is a
                   partition/bucketing key — probes prune to a handful
                   of buckets instead of the full scan.

  knn_ivf        — approximate: IVF coarse quantization. Every corpus
                   vector is assigned to its nearest centroid by a
                   per-row array fold over broadcast centroid literals
                   (NO shuffle — the assignment is a narrow map over
                   the scan); queries probe the nprobe nearest cells
                   and exact-rank inside them. At 100 TB centroid_id
                   is the partition key of the index table, so a probe
                   reads nprobe/n_centroids of the corpus.

The reference's dense retrieval is Qdrant HNSW (service.py:209-218);
brute-force gives identical results to exhaustive search, LSH is the
scale path (SURVEY §4: ANN is a physical-plan swap, not a semantic
change).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.functions.caching import cache
from semantik_spark.functions.parallel import spread
from semantik_spark.functions.quant import round_half_away
from semantik_spark.functions.vectors import by_name, cosine
from semantik_spark.session import local_df

# --- summation-order safety audit (optimization r14) -------------------
#
# The Lloyd means in ivf_refine/pq_codebooks are raw DOUBLE sums divided
# by counts and rounded to 6 dp. Floating sums accumulate in engine- and
# partitioning-specific order, so the training reduction is only safe to
# run over MULTIPLE partitions (the natural shape at 100 TB, where the
# corpus scan is thousands of tasks — plus AQE coalescing, shuffle fetch
# order, task retries) if NO achievable accumulation order can flip the
# 6th decimal. r13 treated that as an unprovable knife-edge and declared
# the path "order-locked"; it is in fact a CHECKABLE property of the
# actual data: for a sum of n doubles with Σ|x_i| = sa, ANY summation
# order (sequential or tree) lands within (n-1)·u·sa of the exact sum
# (u = 2^-53, the standard forward-error bound), so if the computed mean
# sits further than that from the nearest 0.5·10^-6 rounding boundary,
# every order rounds identically — and the DuckDB oracle twin (its own
# order) necessarily agrees too.
#
# With SPARK_GRAFT_ORDER_AUDIT=1 each training aggregation additionally
# collects Σ|val| and appends (margin, bound) per (cell, dim) mean to
# _ORDER_AUDIT; tools/order_margin_audit.py sweeps every IVF-family
# query at every SF and asserts min(margin/bound) stays orders of
# magnitude above 1 (artifact: plans/r14/order_margin_audit.txt —
# measured min ratio 1.0e4 across all SFs: PASS).
_ORDER_AUDIT: list[dict] = []


def _order_audit_on() -> bool:
    return os.environ.get("SPARK_GRAFT_ORDER_AUDIT") == "1"


def order_margin(s: float, n: int, sa: float, dp: int = 6) -> tuple[float, float]:
    """(margin, bound) for mean = s/n rounded half-away at ``dp``:
    margin = distance of the computed mean from the nearest rounding
    boundary; bound = conservative any-order summation error of the
    mean, 4·u·(Σ|x|/1 + |mean|) — (n-1)·u·Σ|x| for the sum (any
    ordering/tree), /n for the mean (then ≤ u·Σ|x|), + u·|mean| for the
    division, ×4 slack for second-order terms and for measuring the
    margin from the computed (not exact) mean. margin > bound proves
    every accumulation order rounds to the same value."""
    u = 2.0 ** -53
    mean = s / n
    bound = 4.0 * u * (sa + abs(mean))
    y = abs(mean) * (10.0 ** dp)
    frac = y - math.floor(y)
    margin = abs(frac - 0.5) * (10.0 ** -dp)
    return margin, bound


def knn_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """Exact cosine top-k: query_id, vec_id, cos, rank (ties → vec_id).

    spread() before the broadcast fan-out (here and in the other
    scan-side kernels below): the single-file scan otherwise fuses
    with the |corpus|×|queries| scoring stage on ONE task (guide
    §2.5). Repartition-safe: scores are per-row expressions and the
    top-k windows break ties deterministically — row placement can
    never change a value or a rank. No-op at production partition
    counts."""
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", cosine("v", "qv").alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def train_sample(corpus: DataFrame, mod: int,
                 id_col: str = "vec_id") -> DataFrame:
    """Deterministic ~1/``mod`` training sample: rows whose
    hash60(id) ≡ 0 (mod ``mod``). FAISS practice for codebook training
    at scale (VERDICT r7 item 7) — Lloyd iterations over 100 TB of
    vectors buy nothing once the sample covers the distribution, so
    train on a bounded slice and assign/encode the full corpus under
    the frozen codebook (the same train-vs-add split ivf_append uses).
    Hash-residue selection (not limit/sample()) keeps the subset
    engine-portable: the DuckDB oracle replays the identical predicate
    bit-for-bit."""
    from semantik_spark.functions.hashing import hash60

    return corpus.where(hash60(F.col(id_col)) % mod == 0)


def _maybe_sample(corpus: DataFrame, train_sample_mod: int | None,
                  id_col: str) -> DataFrame:
    return (train_sample(corpus, train_sample_mod, id_col)
            if train_sample_mod and train_sample_mod > 1 else corpus)


def ivf_centroids(corpus: DataFrame, n_centroids: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  train_sample_mod: int | None = None) -> list:
    """Deterministic IVF seeding: the ``n_centroids`` corpus vectors
    with the smallest ids, collected to the driver (tiny — this is the
    'coarse codebook'). A k-means refinement is a drop-in replacement
    at scale; seeded selection keeps the index bit-reproducible, which
    is what makes the DuckDB oracle able to replay it.
    ``train_sample_mod``: seed from the deterministic training sample
    (train_sample) instead of the full corpus."""
    corpus = _maybe_sample(corpus, train_sample_mod, id_col)
    return sorted(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(F.asc("cid")).limit(n_centroids).collect(),
        key=lambda r: r["cid"],
    )


def _codebook_df(spark, cent_rows: list):
    """One-row DataFrame holding the codebook as ARRAY<STRUCT<cid,cv>>.
    Cross-joined (broadcast) onto corpus/query rows so centroid values
    travel as DATA, not as plan literals — inlining n_centroids×dim
    doubles into the expression tree blows up codegen compile time
    (measured ~2s at 16×64) and would not survive a real 1024-cell
    codebook at all."""
    data = [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in cent_rows]
    return local_df(spark, [(data,)],
                    "cents array<struct<cid:bigint,cv:array<double>>>")


@by_name
def _nearest_centroids(vec: str) -> F.Column:
    """ARRAY<STRUCT<cos,negcid>> of centroid scores for a vector column
    against the joined ``cents`` column — evaluated per row with NO
    shuffle and NO explode. max = nearest (tie → smallest centroid id
    via negcid)."""
    return F.transform(
        F.col("cents"),
        lambda ct: F.struct(
            cosine(F.col(vec), ct["cv"]).alias("cos"),
            (-ct["cid"]).alias("negcid"),
        ),
    )


def ivf_refine(corpus: DataFrame, cent_rows: list, iters: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding",
               round_dp: int = 6,
               train_sample_mod: int | None = None) -> list:
    """Deterministic Lloyd refinement of the seeded codebook: assign
    every corpus vector to its nearest centroid (cosine, tie → smaller
    cid), recompute each cell as the per-dimension mean ROUNDED to
    ``round_dp`` decimals, keep the seed vector for empty cells.

    The rounding is what makes refinement oracle-replayable: float sums
    accumulate in engine-specific order, but sum/count rounded to 6 dp
    is identical in Spark and DuckDB away from knife-edge ties, and
    every downstream distance then computes from identical centroid
    bits. Each iteration is one distributed assign (broadcast codebook,
    narrow map) + one groupBy((cell, dim)) mean — at 100 TB this is the
    standard scalable k-means step, and the collected codebook stays
    n_centroids×dim tiny. ``train_sample_mod``: refine over the
    deterministic hash sample only (train_sample) — the FAISS
    train-on-a-sample practice; assignment of the full corpus happens
    downstream under the frozen result."""
    spark = corpus.sparkSession
    corpus = _maybe_sample(corpus, train_sample_mod, id_col)
    # NO spread here (r14, measured): the assignment crossJoin is NOT
    # compute-bound at local SF (16 cents × 64 dims over a ~2 MB
    # corpus ≈ ms of arithmetic), so repartitioning it costs more in
    # extra AQE stages/codegen than it parallelizes — knn_ivf measured
    # 3.7 → 6.6 s median with the spread (interleaved 5-rep noop,
    # sf0.1). At 100 TB the scan itself is already many partitions, so
    # the Lloyd step parallelizes naturally — which is SAFE because the
    # per-(cell,dim) double sums round to identical centroid bits at 6 dp
    # under any partitioning (scan splits, AQE, retries) — proven for the
    # audited data (sf0.001–sf0.1) by the order-margin audit (see
    # _ORDER_AUDIT above / tools/order_margin_audit.py /
    # plans/r14/order_margin_audit.txt: min margin ≥ 1e4× the any-order
    # summation error bound at every audited SF), not for other inputs.
    # That proof is what removes r13's "order-sensitivity lock" here.
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    rows = [{"cid": int(r["cid"]), "cv": [float(x) for x in r["cv"]]}
            for r in cent_rows]
    dim = len(rows[0]["cv"]) if rows else 0
    audit = _order_audit_on()
    for _ in range(iters):
        codebook = F.broadcast(_codebook_df(spark, rows))
        assigned = c.crossJoin(codebook).withColumn(
            "centroid_id", -F.array_max(_nearest_centroids("v"))["negcid"]
        ).drop("cents")
        # posexplode + groupBy((cid, dim)): the explode is map-side and
        # feeds straight into a hash aggregate whose partial (map-side
        # combine) reduces each partition to n_centroids×dim sums before
        # the shuffle — same shuffle volume as dim separate column
        # aggregates, but without the 65-expression codegen compile that
        # measured ~1.5s slower per iteration
        aggs = [F.sum("val").alias("s"), F.count("*").alias("n")]
        if audit:
            aggs.append(F.sum(F.abs(F.col("val"))).alias("sa"))
        means = (
            assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
            .groupBy("centroid_id", "dim")
            .agg(*aggs)
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            if audit:
                margin, bound = order_margin(
                    float(r["s"]), int(r["n"]), float(r["sa"]), round_dp)
                _ORDER_AUDIT.append({
                    "kind": "ivf_refine", "cell": int(r["centroid_id"]),
                    "dim": int(r["dim"]), "n": int(r["n"]),
                    "margin": margin, "bound": bound,
                })
            # half-AWAY rounding (functions.quant): the oracle replays
            # this mean with SQL round(), which is half-away — Python's
            # half-even round() would diverge on an exact half-point
            # tie and every downstream distance would then disagree
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["dim"])] = \
                round_half_away(float(r["s"]) / int(r["n"]), round_dp)
        rows = [
            {"cid": row["cid"],
             "cv": [by_cid[row["cid"]][i] for i in range(dim)]
             if row["cid"] in by_cid else row["cv"]}
            for row in rows
        ]
    return rows


def knn_ivf(corpus: DataFrame, queries: DataFrame, k: int = 5,
            n_centroids: int = 16, nprobe: int = 4, refine_iters: int = 1,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", query_vec_col: str = "query_vec",
            cent_rows: list | None = None) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) cell probing.

    Corpus vectors are assigned to their nearest centroid by a per-row
    fold over the broadcast codebook — a narrow map, so at 100 TB the
    assignment costs one scan and the index table is written
    partitionBy(centroid_id). Queries probe their ``nprobe`` nearest
    cells; exact cosine ranks inside the probed cells only, reading
    ~nprobe/n_centroids of the corpus instead of all of it.

    ``cent_rows``: pass a pre-trained codebook (ivf_centroids [+
    ivf_refine] output) to skip training — callers sweeping serve-time
    parameters (nprobe) against one index train once.
    """
    if cent_rows is None:
        cent_rows = ivf_centroids(corpus, n_centroids, id_col, vec_col)
        if refine_iters:
            cent_rows = ivf_refine(corpus, cent_rows, iters=refine_iters,
                                   id_col=id_col, vec_col=vec_col)
    codebook = F.broadcast(_codebook_df(corpus.sparkSession, cent_rows))
    # spread AFTER training (ivf_centroids/ivf_refine consume the raw
    # corpus above — their double-sum Lloyd means are accumulation-
    # order-sensitive and must not be repartitioned); the assignment +
    # probed-cell scoring below are per-row ops with deterministic
    # ranks, so spreading them is value-neutral (see knn_bruteforce)
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    assigned = c.crossJoin(codebook).withColumn(
        "centroid_id", -F.array_max(_nearest_centroids("v"))["negcid"]
    ).drop("cents")
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    top_cells = F.slice(F.reverse(F.array_sort(_nearest_centroids("qv"))), 1, nprobe)
    probes = q.crossJoin(codebook).withColumn(
        "centroid_id", F.explode(F.transform(top_cells, lambda s: -s["negcid"]))
    ).drop("cents")
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "vec_id", cosine("v", "qv").alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_quantized(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  rescore_k: int = 20,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """Two-phase quantized search: rank on int8-reconstructed vectors,
    then exact-rescore the ``rescore_k`` survivors per query.

    The reference stores collections at quantization float32/16/int8
    (models.py:261); this is that storage trade applied to retrieval:
    at scale phase 1 scans the int8 codes column (¼ the bytes of
    float32), and phase 2 hydrates full-precision vectors for the
    survivors only (late materialization, same two-phase shape as the
    reference's id-then-payload fetch, service.py:248-277).
    """
    from semantik_spark.functions.vectors import dequantize_int8, quantize_int8

    # spread: see knn_bruteforce (per-row quantize + cosine, safe)
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    deq = c.withColumn("q", quantize_int8("v")).select(
        "vec_id", dequantize_int8(F.col("q")).alias("dv")
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    approx = deq.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", cosine("dv", "qv").alias("acos")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w1))
        .where(F.col("arank") <= rescore_k)
        .select("query_id", "vec_id")
    )
    exact = (
        F.broadcast(cand).join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cosine("v", "qv").alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def _hyperplane(dim: int, bit: int, table: int = 0) -> F.Column:
    """Deterministic pseudo-random hyperplane: component j of plane b is
    hash60('hp:b:j') scaled to [-1,1] — computed driver-side with
    hashlib.md5 (bit-identical to the SQL hash60, so the DuckDB oracle
    replays it) and emitted as a literal array, keeping the plan small.
    Table 0 keeps the original seed string so single-table results (and
    their oracles) are unchanged; extra tables salt the seed."""
    import hashlib

    prefix = "hp" if table == 0 else f"hp:t{table}"
    return F.array(*[
        F.lit(int(hashlib.md5(f"{prefix}:{bit}:{j}".encode()).hexdigest()[:15], 16)
              / float(2 ** 59) - 1.0)
        for j in range(dim)
    ])


def lsh_signature(vec_col: str, dim: int, nbits: int = 8, table: int = 0) -> F.Column:
    """nbits-bit sign signature of ``vec_col`` against the deterministic
    hyperplanes, packed into a BIGINT bucket id."""
    sig = F.lit(0).cast("bigint")
    for b in range(nbits):
        d = F.aggregate(
            F.zip_with(F.col(vec_col), _hyperplane(dim, b, table),
                       lambda x, h: x.cast("double") * h),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        sig = sig + F.when(d > 0, F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(0)
    return sig


def knn_lsh(corpus: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
            nbits: int = 8, probe_hamming: int = 1, n_tables: int = 1,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """Approximate cosine top-k via hyperplane-LSH bucket probing.

    Queries probe all buckets within ``probe_hamming`` of their own
    signature (probe_hamming=1 → nbits+1 buckets) in EACH of
    ``n_tables`` independent hash tables (standard E2LSH recall
    amplification: a true neighbor colliding with probability q per
    table is found with 1-(1-q)^L over L tables), then exact-cosine
    re-rank inside the union candidate set. n_tables=1 reproduces the
    original single-table results bit-for-bit.

    Scale shape: the (table, bucket) pair is the equi-join key — at
    100 TB the corpus signature table is written partitionBy(table,
    bucket) once and each query touches L*(nbits+1) buckets; candidate
    growth is the recall price, the join never degenerates to a scan.
    """
    if probe_hamming > 1:
        # only the 1-bit flip neighborhood is generated below — a
        # larger radius would silently under-probe (return hamming-1
        # recall while claiming hamming-2), so fail fast instead
        # (the zorder_key discipline, r13 formula review)
        raise ValueError(
            f"knn_lsh supports probe_hamming 0 or 1, got {probe_hamming}; "
            f"for wider probing raise n_tables (recall amplification) "
            f"instead")
    # spread: see knn_bruteforce (per-row signatures + cosines, safe)
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    c_tab = c.select(
        "vec_id", "v",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("table"),
                     lsh_signature("v", dim, nbits, t).alias("bucket"))
            for t in range(n_tables)
        ])).alias("tb"),
    ).select("vec_id", "v", "tb.table", "tb.bucket")
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    probe_structs = []
    for t in range(n_tables):
        qsig = lsh_signature("qv", dim, nbits, t)
        flips = [qsig] + [
            qsig.bitwiseXOR(F.shiftleft(F.lit(1).cast("bigint"), b))
            for b in range(nbits)
        ][: (nbits if probe_hamming >= 1 else 0)]
        probe_structs += [
            F.struct(F.lit(t).alias("table"), fl.alias("bucket")) for fl in flips
        ]
    q_tab = q.select(
        "query_id", "qv", F.explode(F.array(*probe_structs)).alias("tb")
    ).select("query_id", "qv", "tb.table", "tb.bucket")
    scored = (
        c_tab.join(F.broadcast(q_tab), ["table", "bucket"])
        .select("query_id", "vec_id", cosine("v", "qv").alias("cos"))
    )
    if n_tables > 1:
        # the same (query, vec) pair can collide in several tables;
        # within one table the probe buckets are distinct so no dedup
        # (and no extra exchange) is needed in the single-table plan
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _l2(a, b) -> F.Column:
    """Squared L2 distance as an elementwise fold — the SAME algebraic
    form as the oracle's list_zip sum, so both engines accumulate the
    identical term sequence (only association order differs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def pq_codebooks(corpus: DataFrame, dim: int = 64, m: int = 8,
                 n_centroids: int = 16, refine_iters: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_dp: int = 6,
                 train_sample_mod: int | None = None) -> list:
    """Deterministic product-quantization codebooks: ``m`` subspaces of
    dim/m dimensions, each with ``n_centroids`` centroids seeded from
    the smallest-id corpus vectors' subvectors and refined by
    ``refine_iters`` Lloyd steps (squared-L2 assignment, per-dim means
    ROUNDED to ``round_dp`` — the same rounding contract as ivf_refine,
    which is what lets the DuckDB oracle replay training bit-for-bit).

    Each refine step is ONE distributed job: the corpus explodes into
    (vec_id, subspace, subvector) rows (m× row count, but d/m-wide
    arrays — same total bytes), assigns against the broadcast codebook,
    and aggregates groupBy(subspace, cid, dim) means. The collected
    codebook is m·n_centroids·(dim/m) doubles = dim·n_centroids — tiny.

    Returns [{"s": subspace, "cid": centroid id, "cv": [floats]}].

    ``train_sample_mod``: seed + refine over the deterministic hash
    sample (train_sample) — encoding of the full corpus happens in the
    caller under the frozen codebooks (the FAISS sampled-training
    practice; see SCALE.md).
    """
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m {m}")
    d = dim // m
    spark = corpus.sparkSession
    corpus = _maybe_sample(corpus, train_sample_mod, id_col)
    seed_rows = sorted(
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(F.asc("cid")).limit(n_centroids).collect(),
        key=lambda r: r["cid"],
    )
    book = [
        {"s": s, "cid": int(r["cid"]),
         "cv": [float(x) for x in r["cv"][s * d:(s + 1) * d]]}
        for s in range(m) for r in seed_rows
    ]
    subs = F.explode(F.array(*[
        F.struct(
            F.lit(s).alias("s"),
            F.slice(F.col("v"), s * d + 1, d).alias("sv"),
        )
        for s in range(m)
    ])).alias("sub")
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    # NO spread of the training rows (r14, measured): it ran SLOWER at
    # local SF (the subspace argmins are not compute-bound over a ~2 MB
    # corpus; knn_pq +25% with it) and is a no-op at production
    # partition counts. The PQ means are order-free (order-margin
    # audit), so natural scan parallelism at scale is value-safe.
    exploded = c.select("vec_id", subs).select("vec_id", "sub.s", "sub.sv")
    audit = _order_audit_on()
    for _ in range(refine_iters):
        cb = F.broadcast(_pq_codebook_df(spark, _pq_by_subspace(book, m)))
        assigned = exploded.crossJoin(cb).withColumn(
            "cid",
            F.array_min(F.transform(
                F.element_at(F.col("cents"), F.col("s") + 1),
                lambda ct: F.struct(_l2(F.col("sv"), ct["cv"]).alias("dist"),
                                    ct["cid"].alias("cid")),
            ))["cid"],
        ).drop("cents")
        aggs = [F.round(F.sum("val") / F.count("*"), round_dp).alias("mv")]
        if audit:
            aggs += [F.sum("val").alias("rs"), F.count("*").alias("rn"),
                     F.sum(F.abs(F.col("val"))).alias("sa")]
        means = (
            assigned.select("s", "cid", F.posexplode("sv").alias("dim", "val"))
            .groupBy("s", "cid", "dim")
            .agg(*aggs)
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            if audit:
                margin, bound = order_margin(
                    float(r["rs"]), int(r["rn"]), float(r["sa"]), round_dp)
                _ORDER_AUDIT.append({
                    "kind": "pq_codebooks", "cell": int(r["cid"]),
                    "dim": int(r["dim"]), "n": int(r["rn"]),
                    "margin": margin, "bound": bound,
                })
            by_key.setdefault((int(r["s"]), int(r["cid"])), {})[int(r["dim"])] = float(r["mv"])
        book = [
            {"s": b["s"], "cid": b["cid"],
             "cv": [by_key[(b["s"], b["cid"])][i] for i in range(d)]
             if (b["s"], b["cid"]) in by_key else b["cv"]}
            for b in book
        ]
    return book


def _pq_codebook_df(spark, by_s: list):
    """One-row codebook DataFrame indexed BY SUBSPACE — ``cents[s]`` is
    the cid-ordered centroid list of subspace s (_pq_by_subspace), so
    the per-row encoder reaches its candidates with one element_at
    instead of re-filtering a flat m·n_centroids array m times per row
    (measured 2× on the encode stage at sf0.1)."""
    return local_df(spark, [(by_s,)],
                    "cents array<array<struct<cid:bigint,cv:array<double>>>>")


def _pq_by_subspace(book, m: int | None = None) -> list[list[tuple]]:
    """Group PQ codebook rows (``s``, ``cid``, ``cv`` — pq_codebooks
    output or the persisted ivfpq_pq/ table) into per-subspace
    cid-ordered ``(cid, cv)`` lists; a centroid's position in its list
    is its PQ code. ``m`` defaults to the highest subspace + 1."""
    if m is None:
        m = 1 + max((int(b["s"]) for b in book), default=-1)
    by_s: list[list] = [[] for _ in range(m)]
    for b in book:
        by_s[int(b["s"])].append((int(b["cid"]), [float(x) for x in b["cv"]]))
    for lst in by_s:
        lst.sort(key=lambda t: t[0])
    return by_s


def knn_pq(corpus: DataFrame, queries: DataFrame, k: int = 5,
           dim: int = 64, m: int = 8, n_centroids: int = 16,
           rescore_k: int = 20, refine_iters: int = 1,
           id_col: str = "vec_id", vec_col: str = "embedding",
           query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """Approximate cosine top-k via product quantization + exact
    rescore. Every corpus vector is encoded as ``m`` centroid codes
    (one byte each at n_centroids<=256 — a 32× storage cut vs float32
    at dim=64/m=8); phase 1 ranks on the RECONSTRUCTED vector, which is
    algebraically the ADC table-lookup score (dot(q, recon) = sum over
    subspaces of dot(q_s, centroid_s)) normalized to cosine; phase 2
    exact-rescores the ``rescore_k`` survivors per query (same late
    materialization as knn_quantized).

    100 TB shape: codes are computed in a narrow map over the scan
    (broadcast codebook, no shuffle); the stored index is (vec_id,
    codes) at ~m bytes/vector, and phase 2 hydrates full vectors for
    rescore_k rows per query only.
    """
    d = dim // m
    book = pq_codebooks(corpus, dim=dim, m=m, n_centroids=n_centroids,
                        refine_iters=refine_iters, id_col=id_col, vec_col=vec_col)
    spark = corpus.sparkSession
    cb = F.broadcast(_pq_codebook_df(spark, _pq_by_subspace(book, m)))
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))

    def best_cv(s: int) -> F.Column:
        # one pass: carry (dist, cid, cv) through the argmin struct —
        # lexicographic struct ordering gives min dist, tie -> min cid,
        # and the winning centroid values come out without a second
        # lookup over the candidate array
        cands = F.element_at(F.col("cents"), s + 1)
        return F.array_min(F.transform(
            cands,
            lambda ct: F.struct(
                _l2(F.slice(F.col("v"), s * d + 1, d), ct["cv"]).alias("dist"),
                ct["cid"].alias("cid"),
                ct["cv"].alias("cv"),
            ),
        ))["cv"]

    recon = c.crossJoin(cb).select(
        "vec_id", "v",
        F.flatten(F.array(*[best_cv(s) for s in range(m)])).alias("rv"),
    ).drop("cents")
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("qv"))
    approx = recon.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", cosine("rv", "qv").alias("acos")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w1))
        .where(F.col("arank") <= rescore_k)
        .select("query_id", "vec_id")
    )
    exact = (
        F.broadcast(cand).join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cosine("v", "qv").alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def binary_code(vec_col: str, dim: int, word: int, word_bits: int = 32) -> F.Column:
    """Sign-bit binary quantization, one 32-bit word: bit j of word w is
    set when component w*32+j of the vector is > 0. 32 bits per word
    (not 64) keeps every code value in [0, 2^32) so xor/bit_count
    arithmetic is identical two's-complement-free in both Spark and
    DuckDB. The whole expression is a sum of CASE terms — pure
    whole-stage codegen, no UDF, no shuffle."""
    lo = word * word_bits
    hi = min(dim, lo + word_bits)
    code = F.lit(0).cast("bigint")
    for j in range(lo, hi):
        code = code + F.when(
            F.element_at(F.col(vec_col), j + 1) > 0,
            F.shiftleft(F.lit(1).cast("bigint"), j - lo),
        ).otherwise(F.lit(0).cast("bigint"))
    return code


def knn_binary(corpus: DataFrame, queries: DataFrame, k: int = 5,
               rescore_k: int = 20, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """Binary-quantization ANN: 1 bit per dimension (32× smaller than
    float32), Hamming-distance candidate generation, exact cosine
    rescore of the ``rescore_k`` survivors per query.

    The sign-bit code is the extreme point of the quantization ladder
    the reference exposes as collection quantization float32/16/int8
    (models.py:261) — for mean-centered embeddings, Hamming distance on
    sign bits approximates angular distance (Charikar 2002 SimHash
    bound), which is why phase 1 ranks by Hamming ascending. Phase 2
    hydrates full-precision vectors for survivors only (same late
    materialization as knn_quantized / the reference's id-then-payload
    serve, service.py:248-277).

    Scale: at 100 TB the codes column for a 1024-dim corpus is 128
    bytes/row vs 4 KiB float32 — the phase-1 scan reads 1/32 of the
    bytes and the distance is two JVM intrinsics (xor + bit_count) per
    word, no shuffle on the corpus side (query batch broadcast); the
    only wide exchange is the per-query top-rescore_k window, which is
    bounded by |queries|·|corpus-partition| partial top-k under AQE.
    """
    n_words = (dim + 31) // 32
    # spread: see knn_bruteforce (hamming is exact integers, safe)
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    ccodes = c.select(
        "vec_id",
        *[binary_code("v", dim, w).alias(f"c{w}") for w in range(n_words)],
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    qcodes = q.select(
        "query_id",
        *[binary_code("qv", dim, w).alias(f"q{w}") for w in range(n_words)],
    )
    hamming = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"c{w}").bitwiseXOR(F.col(f"q{w}")))
        hamming = term if hamming is None else hamming + term
    scored = ccodes.crossJoin(F.broadcast(qcodes)).select(
        "query_id", "vec_id", hamming.cast("int").alias("ham")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("vec_id"))
    cand = (
        scored.withColumn("hrank", F.row_number().over(w1))
        .where(F.col("hrank") <= rescore_k)
        .select("query_id", "vec_id")
    )
    exact = (
        F.broadcast(cand).join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cosine("v", "qv").alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def matryoshka_recall(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      dims: tuple = (8, 16, 32, 64),
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id",
                      query_vec_col: str = "query_vec") -> DataFrame:
    """Matryoshka truncation sweep (Kusupati et al. 2022 MRL): recall@k
    of cosine top-k computed on the first ``d`` dimensions against the
    full-dimension exact top-k, for each d in ``dims``. The decision
    artifact for the storage/recall trade: MRL-trained embeddings keep
    most recall at d/8 prefixes, so serving can scan a truncated column
    at 1/8 the bytes — this measures whether THESE embeddings allow it.

    Returns one row per dim: (dim, n_hit, n_exact, recall), recall
    monotone-ish in dim and exactly 1.0 at the full dimension (the
    built-in sanity row).

    Scale: ONE corpus scan — the dims axis is an exploded literal array
    (|corpus|·|dims| scored rows, map-side), query batch broadcast;
    the per-(dim, query) top-k window is the only exchange, and the hit
    join is broadcast (both sides |dims|·|queries|·k rows). At 100 TB
    the corpus side stays a scan of the embedding column only.
    """
    full = max(dims)
    # spread: see knn_bruteforce (per-row sliced cosines, safe)
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("dim", F.explode(F.array(*[F.lit(d) for d in dims])))
        .select(
            "dim", "query_id", "vec_id",
            cosine(F.slice("v", 1, F.col("dim")),
                   F.slice("qv", 1, F.col("dim"))).alias("cos"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    # topk feeds BOTH the approx side and the exact (dim == full)
    # side of the hit join; without persisting it the self-reference
    # recomputes the corpus scan + window twice. It is |dims|·|q|·k
    # rows — bounded, corpus-independent.
    topk = cache(
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("dim", "query_id", "vec_id")
    )
    exact = topk.where(F.col("dim") == full).select("query_id", "vec_id")
    hits = (
        topk.join(F.broadcast(exact), ["query_id", "vec_id"])
        .groupBy("dim").agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    den = exact.agg(F.count("*").cast("bigint").alias("n_exact"))
    return (
        hits.crossJoin(F.broadcast(den))
        .select(
            F.col("dim").cast("int").alias("dim"), "n_hit", "n_exact",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, method: str) -> DataFrame:
    """One-row ANN quality measurement: recall@k of ``approx`` against
    the exhaustive ``exact`` result (both (query_id, vec_id) sets from
    the same k). The reference's benchmark harness treats retrieval
    quality as a first-class metric (shared/benchmarks/evaluator.py:
    49-117); without this, ANN parameter regressions are invisible.

    Shape: |exact| is n_queries*k rows — tiny — so the hit join is a
    broadcast and the output a single aggregated row. At 100 TB the
    exact side comes from a sampled query set, never the full corpus.
    """
    ex = exact.select("query_id", "vec_id")
    hits = ex.join(approx.select("query_id", "vec_id"),
                   ["query_id", "vec_id"]).agg(F.count("*").alias("n_hit"))
    den = ex.agg(F.count("*").alias("n_exact"))
    return hits.crossJoin(den).select(
        F.lit(method).alias("method"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
    )


def ivf_cell_histogram(df: DataFrame, cent_rows: list,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Per-cell assignment counts (centroid_id, n) of ``df`` under the
    frozen codebook — ivf_assignment_drift's build-time artifact, made
    reusable: persist it at index build (or cache it when monitoring
    several append batches against the same build) so each drift check
    pays ONE corpus-scale assignment map instead of re-deriving the
    reference histogram per call. Counts are a commutative monoid, so
    per-append partials merge by groupBy(centroid_id).sum."""
    spark = df.sparkSession
    codebook = F.broadcast(_codebook_df(spark, cent_rows))
    c = df.select(F.col(id_col).alias("vec_id"),
                  F.col(vec_col).cast("array<double>").alias("v"))
    assigned = c.crossJoin(codebook).withColumn(
        "centroid_id", -F.array_max(_nearest_centroids("v"))["negcid"]
    ).drop("cents")
    return assigned.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n"))


def ivf_assignment_drift(ref: DataFrame | None, cur: DataFrame,
                         cent_rows: list,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         threshold_milli: int = 200,
                         ref_hist: DataFrame | None = None) -> DataFrame:
    """Codebook-staleness detector for frozen-codebook IVF appends —
    per-cell assignment-mass drift (PSI) between the corpus the
    codebook was TRAINED on (``ref``) and an incoming corpus slice
    (``cur``, typically the APPEND BATCH), both assigned under the
    SAME frozen codebook (``cent_rows``). ivf_append proves frozen
    appends serve exactly; this answers the missing operational
    question: when has the data drifted far enough that the quantizer
    needs a blue/green retrain (maintenance.bluegreen is the swap
    path — reference reindex webui/tasks/reindex.py:275-304)?

    Compare the BATCH against build-time, not the merged corpus: a
    drifted batch diluted into N× existing mass moves the pooled
    histogram by at most its mixture fraction (a 20% drifted append
    reads PSI ≈ 0.09 pooled vs 1.6 batch-vs-build on the same data),
    so the pooled comparison only fires after the damage is done.

      PSI = Σ_cells (p_c − q_c)·ln(p_c/q_c),  +1-smoothed shares
      q_c = (n_ref_c + 1)/(N_ref + C),  p_c = (n_cur_c + 1)/(N_cur + C)

    (corpus_drift_psi's exact smoothing/rounding discipline: terms
    round to 6 dp into DECIMAL so the fold is engine-exact). The
    standard PSI bands apply: < 0.1 stable, 0.1–0.25 watch, > 0.25
    shifted; ``threshold_milli``/1000 (default 0.2) is the retrain
    trigger. tests/test_similarity.py pins the contract end-to-end: a
    drifted append pushes PSI past the trigger AND retraining at the
    trigger restores the recall the frozen codebook lost.

    Output: one row per codebook cell — centroid_id, n_ref, n_cur,
    psi_term (6 dp), psi_total (repeated), retrain_needed.

    Scale: two broadcast-codebook assignment maps (narrow, no shuffle)
    + two cell-bounded groupBys; everything after runs on the
    n_centroids-row cell table. In the steady sync loop pass
    ``ref_hist`` — the build-time ivf_cell_histogram artifact read
    back (or cached) — instead of ``ref``, so checking N append
    batches against one build pays the reference assignment pass once,
    not N times; the counts are a commutative monoid, so per-append
    partials merge.
    """
    if (ref is None) == (ref_hist is None):
        raise ValueError(
            "pass exactly one of ref (raw build corpus) or ref_hist "
            "(precomputed ivf_cell_histogram artifact)")
    spark = cur.sparkSession
    if ref_hist is None:
        ref_hist = ivf_cell_histogram(ref, cent_rows, id_col, vec_col)

    n_cells = len(cent_rows)
    cells = spark.createDataFrame(
        [(int(r["cid"]),) for r in cent_rows], "centroid_id bigint")
    j = (
        cells
        .join(ref_hist.select("centroid_id", F.col("n").alias("_nr")),
              "centroid_id", "left")
        .join(ivf_cell_histogram(cur, cent_rows, id_col, vec_col)
              .select("centroid_id", F.col("n").alias("_nc")),
              "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("_nr", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("_nc", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    w = Window.partitionBy()
    smoothed = j.select(
        "centroid_id", "n_ref", "n_cur",
        ((F.col("n_ref") + 1).cast("double")
         / (F.sum("n_ref").over(w) + F.lit(n_cells)).cast("double"))
        .alias("_q"),
        ((F.col("n_cur") + 1).cast("double")
         / (F.sum("n_cur").over(w) + F.lit(n_cells)).cast("double"))
        .alias("_p"),
    )
    termed = smoothed.select(
        "centroid_id", "n_ref", "n_cur",
        F.round((F.col("_p") - F.col("_q"))
                * F.log(F.col("_p") / F.col("_q")), 6)
        .cast("decimal(12,6)").alias("psi_term"),
    )
    thr = F.lit(threshold_milli).cast("double") / 1000.0
    return termed.select(
        "centroid_id", "n_ref", "n_cur",
        F.col("psi_term").cast("double").alias("psi_term"),
        F.sum("psi_term").over(w).cast("double").alias("psi_total"),
    ).withColumn("retrain_needed", F.col("psi_total") > thr)


def cluster_profile(corpus: DataFrame, n_centroids: int = 16,
                    refine_iters: int = 1, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-cluster corpus profile from the same deterministic k-means
    the IVF index uses: seed with the ``n_centroids`` smallest-id
    vectors, Lloyd-refine ``refine_iters`` times (ivf_refine — per-dim
    means rounded to 6 dp so the codebook is engine-portable), assign
    every vector to its nearest centroid (cosine, tie → smaller cid),
    then aggregate per cluster.

    This is the "document clustering" view the reference's projection
    atlas colors by (webui/tasks/projection.py builds per-cluster
    labels client-side); here it is a first-class distributed operator:
    one broadcast codebook cross-join (narrow map), one groupBy on
    centroid_id — no shuffle of vectors beyond the final tiny
    aggregation. At 100 TB the assignment is the scan and the profile
    is map-side combined.

    Returns (centroid_id, n_vectors, avg_cos, min_vec_id, max_vec_id)
    where avg_cos is the mean assignment cosine — a cluster-coherence
    score (higher = tighter cluster).
    """
    cent_rows = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if refine_iters:
        cent_rows = ivf_refine(corpus, cent_rows, iters=refine_iters,
                               id_col=id_col, vec_col=vec_col)
    codebook = F.broadcast(_codebook_df(corpus.sparkSession, cent_rows))
    # spread (r14): the per-row n_centroids-cosine assignment otherwise
    # runs in one task over the one-file scan. avg_cos is a double mean
    # rounded at 6 dp whose accumulation order the repartition changes —
    # proven value-free for this data by the order-margin audit
    # (tools/order_margin_audit.py covers cluster_profile explicitly).
    c = spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
    best = F.array_max(_nearest_centroids("v"))
    assigned = c.crossJoin(codebook).select(
        "vec_id",
        (-best["negcid"]).alias("centroid_id"),
        best["cos"].alias("cos"),
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("cos"), 6).alias("avg_cos"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


def embedding_outliers(corpus: DataFrame, n_centroids: int = 16,
                       refine_iters: int = 1, z_threshold: float = -2.0,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-space outlier scan — the curation pass that catches
    mis-embedded/garbage vectors: assign every vector to its nearest
    k-means centroid (the shared deterministic codebook), z-score its
    assignment cosine against its OWN cluster's distribution, and flag
    vectors sitting more than ``|z_threshold|`` sample standard
    deviations BELOW the cluster mean (unusually far from everything
    like them).

    Determinism: the cosine is rounded to 6 dp — the precision every
    green knn oracle already proves engine-stable — before entering the
    exact-DECIMAL moment sums (the events_anomaly recipe), so mean/sd
    and the threshold comparison are bit-identical across engines.
    Plan: broadcast-codebook assignment (narrow map) + one tiny
    per-cluster moment groupBy broadcast back — map-only flagging.
    """
    cent_rows = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if refine_iters:
        cent_rows = ivf_refine(corpus, cent_rows, iters=refine_iters,
                               id_col=id_col, vec_col=vec_col)
    codebook = F.broadcast(_codebook_df(corpus.sparkSession, cent_rows))
    best = F.array_max(_nearest_centroids("v"))
    # assigned feeds BOTH the per-cluster moment groupBy and the final
    # flagging join — persist it so the n_centroids-cosines-per-vector
    # assignment scan runs once, not twice (r13: the two consumers are
    # separate subtrees of one plan; Spark does not share them).
    # spread (r14): unfuse that assignment from the one-task scan —
    # value-free here without the margin audit: cos8 is rounded per-row
    # BEFORE the moment sums, which are exact DECIMAL
    assigned = cache(
        spread(corpus.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v")), "vec_id")
        .crossJoin(codebook)
        .select(
            "vec_id",
            (-best["negcid"]).alias("centroid_id"),
            F.round(best["cos"], 6).alias("cos8"),
        )
    )
    # decimal(16,6): narrow enough that the square decimal(33,12) stays
    # under Spark's precision-38 cap WITHOUT scale truncation — a wider
    # operand would make Spark silently round the product to 6 decimals
    # and diverge from the oracle's exact 12-decimal squares
    dv = F.col("cos8").cast("decimal(16,6)")
    stats = assigned.groupBy("centroid_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dv).alias("s1"),
        F.sum((dv * dv).cast("decimal(38,12)")).alias("s2"),
    ).select(
        "centroid_id", "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2").cast("double")
             - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("cos8") - F.col("mean")) / F.col("sd")
    return (
        assigned.join(F.broadcast(stats), "centroid_id")
        .where((F.col("n") >= 2) & (F.col("sd") > 0) & (z < z_threshold))
        .select(
            "vec_id", "centroid_id",
            F.round("cos8", 6).alias("cos"),
            F.round("mean", 6).alias("mean"),
            F.round("sd", 6).alias("sd"),
            F.round(z, 6).alias("z"),
        )
    )


def knn_ivfpq(corpus: DataFrame, queries: DataFrame, k: int = 5,
              dim: int = 64, n_centroids: int = 16, nprobe: int = 4,
              m: int = 8, pq_centroids: int = 16, rescore_k: int = 20,
              refine_iters: int = 1,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_id_col: str = "query_id", query_vec_col: str = "query_vec") -> DataFrame:
    """IVFADC (Jégou et al. 2011): IVF coarse cells + product
    quantization of the RESIDUAL (v − cell centroid) — the composition
    every billion-vector serving stack ships (FAISS IndexIVFPQ):

      coarse   nearest of n_centroids cells (broadcast codebook, narrow
               map); queries probe their nprobe nearest cells
      residual r = v − centroid, PQ-encoded as m codes — the stored
               index is (cell, m bytes)/vector; residual quantization
               beats direct PQ because residual energy is much smaller
               than vector energy once the cell is known
      ADC      approx score = cos(q, centroid + recon(residual)),
               computed only inside probed cells (~nprobe/n_centroids
               of the corpus)
      rescore  exact cosine over the rescore_k survivors per query
               (late materialization of full-precision vectors)

    Training reuses the deterministic ivf_centroids/ivf_refine and
    pq_codebooks kernels (6 dp-rounded Lloyd means), so the DuckDB
    oracle replays the ENTIRE composition bit-for-bit.

    100 TB shape: both codebooks are corpus-size-independent collects
    (n_centroids×dim + m×pq_centroids×dim/m doubles); encode is one
    narrow map over the scan; the serving join reads probed cells only
    (partitionBy(centroid_id) layout, as serving.write_ivf_index).
    """
    d = dim // m
    spark = corpus.sparkSession
    cent_rows = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if refine_iters:
        cent_rows = ivf_refine(corpus, cent_rows, iters=refine_iters,
                               id_col=id_col, vec_col=vec_col)
    codebook = F.broadcast(_codebook_df(spark, cent_rows))
    # NO spread of the encode path (r14, measured): knn_ivfpq regressed
    # 6.6 → 10.7 s median with it (interleaved 5-rep noop, sf0.1) — the
    # IVFADC encode is not compute-bound over the local corpus, and the
    # repartition is a no-op at production partition counts anyway.
    # Scale safety of the multi-partition training sums is the
    # order-margin audit's proof (see ivf_refine).
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))

    # assign + residual in one pass: carry (cos, negcid, cv) through
    # the argmax struct so the winning centroid's vector is available
    # without a second codebook lookup
    best = F.array_max(F.transform(
        F.col("cents"),
        lambda ct: F.struct(
            cosine(F.col("v"), ct["cv"]).alias("cos"),
            (-ct["cid"]).alias("negcid"),
            ct["cv"].alias("cv"),
        ),
    ))
    assigned = c.crossJoin(codebook).select(
        "vec_id", "v",
        (-best["negcid"]).alias("centroid_id"),
        best["cv"].alias("ccv"),
        F.zip_with("v", best["cv"], lambda a, b: a - b).alias("residual"),
    )
    assigned = cache(assigned)

    book = pq_codebooks(assigned, dim=dim, m=m, n_centroids=pq_centroids,
                        refine_iters=refine_iters,
                        id_col="vec_id", vec_col="residual")
    cb = F.broadcast(_pq_codebook_df(spark, _pq_by_subspace(book, m)))

    def best_rcv(s: int) -> F.Column:
        cands = F.element_at(F.col("cents"), s + 1)
        return F.array_min(F.transform(
            cands,
            lambda ct: F.struct(
                _l2(F.slice(F.col("residual"), s * d + 1, d), ct["cv"]).alias("dist"),
                ct["cid"].alias("cid"),
                ct["cv"].alias("cv"),
            ),
        ))["cv"]

    recon = assigned.crossJoin(cb).select(
        "vec_id", "centroid_id",
        F.zip_with(
            "ccv",
            F.flatten(F.array(*[best_rcv(s) for s in range(m)])),
            lambda a, b: a + b,
        ).alias("rv"),
    )

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("qv"))
    top_cells = F.slice(F.reverse(F.array_sort(_nearest_centroids("qv"))), 1, nprobe)
    probes = q.crossJoin(codebook).withColumn(
        "centroid_id", F.explode(F.transform(top_cells, lambda s: -s["negcid"]))
    ).drop("cents")

    approx = recon.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "vec_id", cosine("rv", "qv").alias("acos")
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w1))
        .where(F.col("arank") <= rescore_k)
        .select("query_id", "vec_id")
    )
    exact = (
        F.broadcast(cand).join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", cosine("v", "qv").alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return exact.withColumn("rank", F.row_number().over(w2)).where(F.col("rank") <= k)


def label_centroid_similarity(embeddings: DataFrame,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              label_col: str = "label") -> DataFrame:
    """Pairwise cosine similarity between LABEL CENTROIDS — the
    class-geometry map of an embedding space (which classes the
    encoder conflates; the 10×10 table a confusion matrix converges to
    without needing a classifier). High off-diagonal cosine = classes
    a kNN search will bleed between.

    Exactness: centroids come from per-(label, dim) DECIMAL sums of
    6-dp-quantized components (float array order never matters);
    centroid dot/norm products round at 9 dp into DECIMAL per
    dimension before the pair sum, so the matrix is engine-exact.

    Output: one row per unordered label pair incl. self —
    label_a ≤ label_b, n_a, n_b, cosine (6 dp; self-pairs pin 1.0
    up to rounding).

    Scale: one explode to (label, dim, value) — map-side combined into
    the LABELS×DIMS-bounded centroid table; the pair stage is
    labels²×dims, constant in corpus size.
    """
    comp = embeddings.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select("lbl", "dim",
             F.round(F.col("x").cast("double"), 6)
             .cast("decimal(18,6)").alias("x"))
    cent = comp.groupBy("lbl", "dim").agg(
        F.sum("x").cast("decimal(28,6)").alias("sx"),
        F.count("*").cast("bigint").alias("n"),
    ).select("lbl", "dim",
             (F.col("sx").cast("double") / F.col("n")).alias("c"),
             "n")
    sizes = cent.groupBy("lbl").agg(F.max("n").cast("bigint").alias("n_vec"))
    a = cent.select(F.col("lbl").alias("la"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("lbl").alias("lb"), "dim", F.col("c").alias("cb"))
    prods = (
        a.join(b, "dim")
        .where(F.col("la") <= F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.round(F.col("ca") * F.col("cb"), 9)
                  .cast("decimal(28,9)")).cast("decimal(38,9)").alias("dot"),
            F.sum(F.round(F.col("ca") * F.col("ca"), 9)
                  .cast("decimal(28,9)")).cast("decimal(38,9)").alias("na2"),
            F.sum(F.round(F.col("cb") * F.col("cb"), 9)
                  .cast("decimal(28,9)")).cast("decimal(38,9)").alias("nb2"),
        )
    )
    cos = F.try_divide(
        F.col("dot").cast("double"),
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
    return (
        prods
        .join(sizes.select(F.col("lbl").alias("la"),
                           F.col("n_vec").alias("n_a")), "la")
        .join(sizes.select(F.col("lbl").alias("lb"),
                           F.col("n_vec").alias("n_b")), "lb")
        .select(F.col("la").alias("label_a"), F.col("lb").alias("label_b"),
                "n_a", "n_b", F.round(cos, 6).alias("cosine"))
    )

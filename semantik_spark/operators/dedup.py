"""Deduplication operator family for large-scale training-data pipelines.

Five strategies, all deterministic and oracle-checkable (the portable
hash60 makes minhash/simhash reproducible in DuckDB):

  exact          — sha256 content hash groupBy (reference change-detect
                   semantics: models.py:345, executor.py:713-744)
  ngram_jaccard  — exact n-gram (word-shingle) Jaccard via shingle
                   self-join; the exact baseline the LSH variants
                   approximate
  minhash_lsh    — minhash signatures + banded LSH candidate generation
                   + exact verification of candidates only
  simhash        — 60-bit simhash + hamming-distance pairs
  embedding      — cosine near-dup over an embedding column

Scale notes (100 TB):
  - exact: one shuffle on the hash — the cheapest possible dedup.
  - ngram_jaccard self-joins on shingle: at scale restrict to
    minhash-LSH candidates (that is exactly `minhash_lsh_pairs`, which
    only exact-verifies docs sharing an LSH band bucket).
  - band buckets are the classic skew risk (stopword-ish shingles);
    buckets above hot_bucket_threshold take an explicit salted
    self-join (banded_candidates) so one boilerplate key never owns
    its quadratic fan-out; verification joins additionally run under
    AQE skew splitting.
  - simhash pairs here are a broadcast self-join at test SF; the scale
    path blocks on bit-bands (same LSH trick) before hamming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.functions.caching import cache, checkpoint
from semantik_spark.functions.hashing import content_hash, hash60
from semantik_spark.functions.text import shingles_from_tokens, whitespace_tokens


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: content_hash, n_docs, keep_doc_id
    (min id = survivor), duplicate_ids (sorted array of the rest)."""
    h = docs.select(F.col(id_col).alias("doc_id"),
                    content_hash(text_col).alias("content_hash"))
    return (
        # NULL hashes (NULL text — failed extractions) are excluded:
        # groupBy treats NULLs as equal, so keeping them would report
        # never-compared docs as one byte-identical duplicate group
        # and a downstream dedup pass would delete them
        h.where(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_sort(F.collect_list("doc_id")).alias("all_ids"),
        )
        .where(F.col("n_docs") > 1)
        .select(
            "content_hash", "n_docs", "keep_doc_id",
            F.slice(F.col("all_ids"), 2, F.size("all_ids") - 1).alias("duplicate_ids"),
        )
    )


def shingle_sets(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, shingle (exploded distinct n-word shingles), n_shingles.

    Tokens are materialized into a column BEFORE shingling — inlining
    the tokenizer into the shingle transform re-runs the regex split
    per element (no CSE inside lambdas): ~10× slower at sf0.1.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    )
    # Explode the expression DIRECTLY (not a named column from a prior
    # select): naming it makes InferFiltersFromGenerate infer
    # size(sh) > 0 and push the whole collapsed shingle+tokenizer
    # expression into a Filter below the shuffle — ~6× slower.
    # n_shingles comes from a count window over the exploded rows rather
    # than F.size(sh): size() would re-evaluate the entire shingle
    # expression a second time (Generate and Project don't share CSE) —
    # measured 1.7× on this stage. The window reuses the caller's
    # doc_id partitioning (callers repartition by id first), so it
    # adds a sort but no shuffle.
    sh = shingles_from_tokens(F.col("_toks"), n)
    ex = toks.select("doc_id", F.explode(sh).alias("shingle"))
    return ex.withColumn(
        "n_shingles", F.count("*").over(Window.partitionBy("doc_id"))
    ).select("doc_id", "n_shingles", "shingle")


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.2,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact pairwise Jaccard over docs sharing ≥1 shingle:
    doc_a, doc_b (a<b), jaccard. |A∩B| from the shingle equi-join;
    |A∪B| = |A|+|B|−|A∩B|."""
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    s = cache(shingle_sets(docs.repartition(n_part, id_col), n, id_col, text_col))
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"), "shingle")
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(docs: DataFrame, n: int = 3,
                            threshold: float = 0.8,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Exact pairwise CONTAINMENT (overlap coefficient,
    |A∩B| / min(|A|, |B|)) over docs sharing >= 1 shingle — the
    subset/superset detector Jaccard structurally misses: a short doc
    fully embedded in a long one (quote pages, excerpt+wrapper,
    article+comments) has containment 1.0 but Jaccard |A|/|B|, far
    below any dedup threshold when the wrapper is large. Broder's
    second resemblance measure; the cross-multiplied integer compare
    keeps the threshold engine-exact.

    Same shuffle profile as ngram_jaccard_pairs: one shingle equi-join
    (never all-pairs) + one pair groupBy.
    """
    s = cache(shingle_sets(docs, n, id_col, text_col))
    a = s.select(F.col("doc_id").alias("doc_a"),
                 F.col("n_shingles").alias("na"), "shingle")
    b = s.select(F.col("doc_id").alias("doc_b"),
                 F.col("n_shingles").alias("nb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    denom = F.least("na", "nb")
    # threshold as an exact integer cross-multiplication: containment
    # >= t  <=>  n_common * SCALE >= t*SCALE * min(na, nb)
    # Python round() here is half-EVEN, but it is quantization-safe
    # (r12 audit): the DuckDB twin embeds the IDENTICAL Python-computed
    # literal (oracles.q_containment builds t_scaled the same way), so
    # both plans compare against the same integer — there is no
    # engine-side rounding to diverge from. Do NOT route one side
    # through quant.round_half_away without the other.
    t_scaled = int(round(threshold * 1_000_000))
    return (
        inter.where(F.col("n_common") * 1_000_000 >= t_scaled * denom)
        .select(
            "doc_a", "doc_b",
            F.round(F.col("n_common").cast("double") / denom, 6)
            .alias("containment"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def minhash_mix_constants(num_hashes: int) -> list[int]:
    """Per-permutation 60-bit XOR constants: hash60('mh:<i>') computed
    driver-side (md5 is identical everywhere, so the DuckDB oracle
    replays them as literals)."""
    import hashlib

    return [
        int(hashlib.md5(f"mh:{i}".encode()).hexdigest()[:15], 16)
        for i in range(num_hashes)
    ]


def shingle_arrays(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """doc_id, shingles ARRAY<STRING>, harr ARRAY<BIGINT> (hash60 per
    shingle) — the un-exploded form. Minhash signatures derive from
    ``harr`` with per-row array ops (NO explode, NO shuffle); callers
    persist this so ``harr`` materializes once."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    )
    return toks.select(
        "doc_id", shingles_from_tokens(F.col("_toks"), n).alias("shingles")
    ).withColumn("harr", F.transform("shingles", lambda x: hash60(x)))


def _minhash_wide(arr: DataFrame, num_hashes: int) -> DataFrame:
    """doc_id, mh0..mh{k-1}: minhash_i = array_min of (harr XOR C_i).

    ONE md5 per shingle (not per shingle×seed) and ZERO shuffles — each
    signature is a per-row array fold over the materialized hash array.
    The k permutations are XOR bijections of the same base hash — a
    weaker hash family than k independent hashes, which only affects
    candidate recall marginally since every candidate is exact-verified
    downstream.
    """
    consts = minhash_mix_constants(num_hashes)
    return arr.select(
        "doc_id",
        *[F.array_min(F.transform("harr", lambda h: h.bitwiseXOR(F.lit(c)))).alias(f"mh{i}")
          for i, c in enumerate(consts)],
    )


def banded_candidates(banded: DataFrame,
                      hot_bucket_threshold: int | None = 4096,
                      salt: int = 8) -> DataFrame:
    """Candidate pairs from a banded signature table (doc_id, band,
    band_key): the LSH self-join, skew-hardened (VERDICT r4 item 6).

    Boilerplate band keys put thousands of docs in one bucket; a plain
    self-join then sends that bucket's ENTIRE quadratic fan-out through
    one reducer. Buckets above ``hot_bucket_threshold`` are split out
    (one map-side-combined count, broadcast of the few hot keys) and
    joined through functions.skew.salted_join: the probe side spreads
    over ``salt`` reducers by doc fingerprint while only the HOT rows
    replicate ``salt`` ways. Cold buckets join exactly as before, and
    the union is row-identical to the unsalted join — only the shuffle
    distribution changes (bounded-partition test in tests/test_dedup.py).

    LAZINESS (ADVICE r5 resolved in r6): this operator composes a plan
    and runs NO job at build time. The hot/cold split is always taken:
    ``hot_keys`` is a lazy aggregate whose broadcast is computed inside
    the plan's own execution — in the common no-hot case it broadcasts
    an EMPTY key set (a few-KB exchange), the anti-join passes every
    row through, and the salted branch unions zero rows, so laziness
    costs one map-side-combined count over the cached banded table in
    place of the former eager build-time probe job (which also ran the
    full shingle+signature pass even when the plan was never executed).
    """
    if hot_bucket_threshold is None:
        ca = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
        cb = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
        pairs = ca.join(cb, ["band", "band_key"])
    else:
        from semantik_spark.functions.skew import salted_join

        # the hot path reads the banded table four times (size probe,
        # hot semi, cold anti x2) — cache it so the signature explode
        # runs once
        banded = cache(banded)
        hot_keys = (
            banded.groupBy("band", "band_key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > hot_bucket_threshold)
            .select("band", "band_key")
        )
        # composite key for the single-column salted_join contract
        key = F.concat_ws("\u0001", F.col("band").cast("string"), F.col("band_key"))
        hot = banded.join(F.broadcast(hot_keys), ["band", "band_key"], "left_semi")
        cold = banded.join(F.broadcast(hot_keys), ["band", "band_key"], "left_anti")
        # cold buckets are SIZE-BOUNDED (≤ hot_bucket_threshold ids ≈
        # 32KB/array), so a groupBy + collect_list + nested-explode pair
        # expansion is memory-safe and replaces the former self-join's
        # two shuffle reads with ONE shuffle; the explodes stream
        # row-by-row, never materializing a bucket's quadratic fan-out.
        # Hot buckets must NOT take this path — an unbounded bucket's
        # collect_list is exactly the OOM the salted join avoids.
        cold_pairs = (
            cold.groupBy("band", "band_key")
            .agg(F.collect_list("doc_id").alias("_ds"))
            .selectExpr("explode(_ds) AS doc_a", "_ds")
            .selectExpr("doc_a", "explode(filter(_ds, d -> d > doc_a)) AS doc_b")
        )
        hot_a = hot.select(F.col("doc_id").alias("doc_a"), key.alias("_bkey"))
        hot_b = hot.select(F.col("doc_id").alias("doc_b"), key.alias("_bkey"))
        hot_pairs = salted_join(
            hot_a, hot_b, on="_bkey", salt=salt, fingerprint_col="doc_a"
        ).select("doc_a", "doc_b")
        pairs = cold_pairs.union(hot_pairs)
    return (
        pairs.where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                      n: int = 3, threshold: float = 0.2,
                      id_col: str = "doc_id", text_col: str = "text",
                      hot_bucket_threshold: int = 4096) -> DataFrame:
    """Banded-LSH candidate pairs + exact Jaccard verification.

    Signatures are split into ``bands`` bands of num_hashes/bands rows;
    docs agreeing on any full band become candidates; candidates (only)
    are exactly verified. Output: doc_a, doc_b, jaccard — a subset of
    ngram_jaccard_pairs, with P[miss] = (1−j^r)^b.

    ``hot_bucket_threshold``: band buckets larger than this (boilerplate
    band keys — the classic LSH skew) take the SALTED self-join path in
    ``banded_candidates`` so no single reducer owns a whole hot
    bucket's quadratic pair fan-out; the candidate set is identical
    either way (None disables the size probe).
    """
    if bands < 1 or num_hashes % bands != 0:
        # a silent remainder changes the advertised (1-j^r)^b miss
        # curve; bands > num_hashes degenerates to rows_per_band = 0,
        # one universal '' band key, and the full O(N^2) candidate set
        raise ValueError(
            f"bands must divide num_hashes exactly: got num_hashes="
            f"{num_hashes}, bands={bands}")
    rows_per_band = num_hashes // bands
    # the shingle arrays feed signature computation + verification —
    # materialize once; at cluster scale this would be a checkpointed
    # intermediate table. Repartition the *docs* (before the CPU-bound
    # shingle/hash expressions) so every core works even when the input
    # is a single small file.
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arr = cache(shingle_arrays(docs.repartition(n_part, id_col), n, id_col, text_col))
    # band key = comma-joined minhashes of the band, computed straight
    # from the hash array — banding adds NO extra shuffle. Minhash
    # per permutation i = array_min(harr XOR C_i) exactly as
    # _minhash_wide; built as ONE selectExpr SQL string because the
    # equivalent 16-deep Column-object chain costs hundreds of py4j
    # round-trips per query build (r7 perf: ~0.5s of driver chatter at
    # any SF — plan-construction cost, not execution).
    consts = minhash_mix_constants(num_hashes)
    mh_sql = [
        f"array_min(transform(harr, h -> h ^ CAST({c} AS BIGINT)))"
        for c in consts
    ]
    band_structs = ", ".join(
        "struct({b} AS band, concat_ws(',', {keys}) AS band_key)".format(
            b=b,
            keys=", ".join(mh_sql[b * rows_per_band + j] for j in range(rows_per_band)),
        )
        for b in range(bands)
    )
    banded = arr.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.band_key AS band_key")
    candidates = cache(banded_candidates(banded, hot_bucket_threshold))
    # exact-verify ONLY the candidate pairs (this is the entire point
    # of LSH): hydrate both docs' shingle arrays onto each candidate
    # pair (two equi-joins keyed by doc id) and intersect the arrays
    # map-side. This replaced an explode-shingles self-join (r6 perf):
    # that shape materialized EVERY co-shingle doc pair among candidate
    # docs before the candidate semi-filter — quadratic fan-out on
    # boilerplate shingles, the same skew LSH banding exists to avoid —
    # while array_intersect is O(|a|+|b|) per pair, shuffles only the
    # candidate rows + candidate docs' arrays, and has no hot key.
    # duplicate doc_ids in the broadcast are harmless to a left_semi —
    # skipping the distinct saves a shuffle stage; the broadcast stays
    # bounded by 2x the candidate-pair count
    cand_docs = candidates.select(F.col("doc_a").alias("doc_id")).union(
        candidates.select("doc_b")
    )
    sub = arr.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    return (
        candidates
        .join(sub.select(F.col("doc_id").alias("doc_a"),
                         F.size("shingles").alias("na"),
                         F.col("shingles").alias("_sha")), "doc_a")
        .join(sub.select(F.col("doc_id").alias("doc_b"),
                         F.size("shingles").alias("nb"),
                         F.col("shingles").alias("_shb")), "doc_b")
        .selectExpr(
            "doc_a", "doc_b",
            "(cast(size(array_intersect(_sha, _shb)) AS BIGINT)"
            " / (na + nb - size(array_intersect(_sha, _shb)))) AS jaccard",
        )
        .where(F.col("jaccard") >= threshold)
    )


#: rounds the most recent connected_components call took to converge
#: (read by tests pinning the logarithmic bound; driver-side only)
CC_LAST_ROUNDS = 0


#: jump when the previous round's changed-count retained more than this
#: fraction of the round before — i.e. convergence stopped being
#: geometric, the signature of long chains rather than dense clusters
CC_JUMP_RATIO = 0.7

#: pointer-jump joins the most recent connected_components call ran
#: (driver-side observability, mirrors CC_LAST_ROUNDS)
CC_LAST_JUMPS = 0


def connected_components(edges: DataFrame, node_a: str = "doc_a",
                         node_b: str = "doc_b", max_iter: int = 25,
                         edges_canonical: bool = False) -> DataFrame:
    """node, component — connected components over an undirected edge
    list by min-label propagation with an ADAPTIVE pointer jump: each
    round every node takes the min of (its label, its neighbors'
    labels); when convergence stalls, the label additionally follows
    itself one hop (label-of-label, the path-halving step of
    Shiloach-Vishkin / the star-contraction family).

    Why adaptive (VERDICT r5 item 2): neighbor-min alone converges in
    graph-diameter rounds — an adversarial 10k-node CHAIN would need
    10k rounds and silently mislabel at max_iter=25 — but near-dup
    cluster graphs have tiny diameter and converge in 2-3 rounds, so
    an unconditional jump join doubled the COMMON case's cost for a
    bound only chains need (the r5 2.1x dedup_canonical regression).
    The dial: round k jumps iff changed_{k-1} > CC_JUMP_RATIO *
    changed_{k-2} (changed_0 := |nodes|), and once triggered it stays
    on (sticky) — stalled convergence means long chains, and chains
    remain the regime until the component resolves, so stickiness makes
    the post-trigger behavior IDENTICAL to the unconditional version
    (same worst-case round bound, no ratio-oscillation edge cases).
    Tiny-diameter graphs collapse geometrically (ratio ~0.5 for
    duplicate pairs) and never pay the jump; on a chain the ratio is ~1
    from round 1, so jumping starts at round 2 exactly as the
    unconditional version did and the O(log diameter) bound is
    unchanged: a 4096-chain converges in ~13 rounds (pinned in
    tests/test_dedup.py), with CC_LAST_JUMPS == 0 on a pair-duplicate
    corpus (also pinned).

    Scale notes: each round is one or two shuffle joins (neighbor min,
    plus label-of-label only when jumping) and one aggregation; LAZY
    ``localCheckpoint(eager=False)`` truncates the growing lineage
    (the plan becomes a leaf the moment the checkpoint is declared, so
    round N never re-analyzes rounds 1..N-1 — same O(1) tree as the
    old eager version) while the round's own convergence action
    materializes the blocks, so checkpointing adds ZERO extra jobs
    (r7 perf: the eager ckpt + separate count pattern paid 2 jobs per
    round; the common 2-round near-dup case now runs 2 jobs total).
    Convergence is a driver-side count of changed labels between
    rounds; the same count drives the jump decision — round 1 is fused
    into label construction (identity labels make neighbor-min a plain
    aggregation) and |nodes| rides along in round 1's count job.

    ``edges_canonical``: set True when the input is already a DISTINCT
    pair list with node_a < node_b (every banded-dedup pair table here
    is — ``banded_candidates`` ends in distinct and the verify filter
    preserves it); the symmetrized union then has no duplicate rows and
    the edge-list distinct (a full shuffle of the pair table) is
    skipped. Duplicate edges would only waste work, never change the
    result (min is idempotent), so the flag is a pure physical hint.
    """
    global CC_LAST_ROUNDS, CC_LAST_JUMPS
    sym = edges.select(F.col(node_a).alias("src"), F.col(node_b).alias("dst"))
    sym = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if not edges_canonical:
        sym = sym.distinct()
    # Lazy checkpoint (r7; the r6 version was eager): a plain cache()
    # here keeps the full upstream plan tree (the whole LSH pipeline
    # with its broadcast subqueries) inside every round's logical plan
    # — cached blocks dedupe the EXECUTION but Catalyst still
    # re-analyzes the giant tree per action (~3s/round at sf0.1 vs
    # ~0.5s against a checkpoint-truncated tree), while an EAGER
    # checkpoint pays a dedicated job per cut. eager=False gives both:
    # the returned plan is already a leaf (LogicalRDD), and the blocks
    # materialize inside round 1's counts job below.
    sym = checkpoint(sym, eager=False)
    # Round 1 FUSED into label construction (r6 perf): with identity
    # labels, neighbor-min is simply min(node, min over neighbors) —
    # one aggregation over sym, no join, no separate identity-label
    # materialization.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.col("node"), F.min("dst")).alias("label"))
    )
    labels = checkpoint(labels, eager=False)
    CC_LAST_ROUNDS = 1
    CC_LAST_JUMPS = 0
    # ONE job for round 1: materializes the sym + labels checkpoints
    # and computes BOTH counts — changed_0 (= |nodes|, the jump
    # baseline) and round 1's churn
    counts = labels.select(
        F.count("*").alias("n"),
        F.count(F.when(F.col("label") != F.col("node"), 1)).alias("c"),
    ).collect()[0]
    prev_changed = int(counts["n"])
    changed = int(counts["c"])
    if changed == 0:
        return labels.select("node", F.col("label").alias("component"))
    for _ in range(max_iter - 1):
        CC_LAST_ROUNDS += 1
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(sym["src"].alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        cand = (
            labels.withColumnRenamed("label", "_old")
            .join(neigh, "node", "left")
            .select(
                "node", "_old",
                F.least(F.col("_old"), F.coalesce(F.col("nmin"), F.col("_old"))).alias("_cand"),
            )
        )
        # round 1's labels are the identity map, so label(label(v))
        # would be a literal no-op — never jump there
        do_jump = CC_LAST_ROUNDS > 1 and (
            CC_LAST_JUMPS > 0 or changed > CC_JUMP_RATIO * prev_changed
        )
        if not do_jump:
            new_labels = checkpoint(cand.select(
                "node", F.col("_cand").alias("label"), F.col("_old")
            ), eager=False)
        else:
            # pointer jump: follow the candidate label one hop through
            # the CURRENT label table — label(label(v)) — so long
            # chains contract geometrically instead of one hop/round
            CC_LAST_JUMPS += 1
            jump = labels.select(F.col("node").alias("_jn"), F.col("label").alias("_jl"))
            new_labels = (
                cand.join(jump, cand["_cand"] == jump["_jn"], "left")
                .select(
                    "node",
                    F.least(F.col("_cand"), F.coalesce(F.col("_jl"), F.col("_cand"))).alias("label"),
                    F.col("_old"),
                )
            )
            new_labels = checkpoint(new_labels, eager=False)
        prev_changed = changed
        # the round's ONLY job: materializes new_labels' checkpoint and
        # counts churn in one pass
        changed = new_labels.where(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def cc_observability() -> dict:
    """Counters of the most recent connected_components run, in the
    shape append_run_log's ``counters`` expects (VERDICT r6 item 10):
    cc_rounds (label-propagation rounds to converge) and cc_jumps
    (pointer-jump rounds the adaptive trigger fired). In production
    these land in the run-log table per dedup run, so a corpus whose
    near-dup graph degenerates into chains (jumps > 0, rounds growing)
    is visible from the audit trail, not only under a profiler."""
    return {"cc_rounds": CC_LAST_ROUNDS, "cc_jumps": CC_LAST_JUMPS}


def duplicate_clusters(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                       n: int = 3, threshold: float = 0.5,
                       id_col: str = "doc_id", text_col: str = "text",
                       runlog_path: str | None = None,
                       run_id: str | None = None) -> DataFrame:
    """MinHash-LSH near-dup pairs → connected components → cluster
    assignment: doc_id, cluster_id (min doc in the component),
    cluster_size, is_keeper (the survivor a dedup pass retains).
    Singleton docs (no near-dup edge) are not emitted — they are
    implicitly their own cluster.

    ``runlog_path``: when set, appends a run-log audit row (runlog
    .append_run_log) carrying the CC convergence counters
    (cc_observability) for this run — the adaptive pointer-jump
    behavior becomes observable in the production audit table."""
    pairs = minhash_lsh_pairs(docs, num_hashes, bands, n, threshold, id_col, text_col)
    # minhash_lsh_pairs output is distinct with doc_a < doc_b
    # (banded_candidates ends in a distinct the verify filter
    # preserves) — skip CC's edge-dedup shuffle
    cc = connected_components(pairs, edges_canonical=True)
    if runlog_path is not None:
        import uuid

        from semantik_spark.operators.runlog import append_run_log

        append_run_log(
            docs.sparkSession, runlog_path,
            run_id or uuid.uuid4().hex, "DEDUP_CLUSTERS", "succeeded",
            config={"num_hashes": num_hashes, "bands": bands, "n": n,
                    "threshold": threshold},
            counters=cc_observability(),
        )
    w = Window.partitionBy("cluster_id")
    return (
        cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def simhash(docs: DataFrame, bits: int = 60,
            id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, simhash BIGINT: per-token hash60; bit b of the signature
    is 1 iff Σ_tokens tf·(±1 for bit b of hash) > 0."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(whitespace_tokens(text_col)).alias("token")
    ).groupBy("doc_id", "token").agg(F.count("*").cast("bigint").alias("tf"))
    tok = tok.withColumn("h", hash60("token"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    per_bit = (
        tok.select("doc_id", "tf", "h", bit)
        .withColumn(
            "contrib",
            F.when(F.expr("(h >> cast(bit as int)) & 1") == 1, F.col("tf")).otherwise(-F.col("tf")),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("contrib").alias("s"))
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), cast(bit as int))"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )


def simhash_band_plan(bits: int, max_hamming: int) -> list[tuple[int, int, int]]:
    """(band, lo_bit, width) splits of a ``bits``-bit signature into
    ``max_hamming + 1`` contiguous bands. Pigeonhole: two signatures
    within ``max_hamming`` differing bits cannot disagree in ALL
    max_hamming+1 bands, so joining on any-band-equal has PERFECT recall
    — banding is a physical optimization, not an approximation."""
    nbands = min(max_hamming + 1, bits)
    base, rem = divmod(bits, nbands)
    plan, lo = [], 0
    for i in range(nbands):
        w = base + (1 if i < rem else 0)
        plan.append((i, lo, w))
        lo += w
    return plan


def simhash_pairs(docs: DataFrame, max_hamming: int = 8, bits: int = 60,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_a, doc_b, hamming — near-dup pairs by simhash distance.

    Band-blocked, not all-pairs: the signature splits into
    max_hamming+1 bit-bands; docs equal on any band become candidates
    (exactly complete by pigeonhole — see simhash_band_plan); candidates
    only are hamming-verified. At 100 TB the (band, band_key) join is
    the one shuffle and band_key is a well-distributed partition key;
    the old corpus×corpus crossJoin is gone. Narrower max_hamming →
    wider bands → smaller buckets, so prefer max_hamming ≤ 3 at scale
    (4×15-bit bands over a 60-bit signature).
    """
    sig = cache(simhash(docs, bits, id_col, text_col))
    banded = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright(F.col("simhash"), lo)
                 .bitwiseAND(F.lit((1 << w) - 1)).alias("band_key"),
            )
            for band, lo, w in simhash_band_plan(bits, max_hamming)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")
    candidates = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "band_key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return (
        candidates
        .join(sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")), "doc_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        dim: int = 64, nbits: int = 8,
                        max_hamming: int = 1) -> DataFrame:
    """vec_a, vec_b, cos — embedding-cosine near-duplicates.

    LSH-banded, not all-pairs: vectors get an ``nbits``-bit hyperplane
    signature (similarity.lsh_signature — deterministic, so the oracle
    can replay the blocking), which splits into ``max_hamming + 1``
    contiguous bit-bands exactly like simhash_pairs; vectors equal on
    ANY band become candidates, and only candidates are exact-cosine
    verified. Pigeonhole: two signatures within ``max_hamming``
    differing bits agree on at least one band, so this has the same
    recall guarantee as hamming-``max_hamming`` probing while writing
    only ``max_hamming + 1`` shuffle rows per vector — the earlier
    probe-side design exploded nbits+1 buckets per vector (9× row
    amplification at nbits=8) into the same join. The (band, band_key)
    pair is the one shuffle key; at 100 TB it's the partition key of a
    signature table.

    Signature collision is still probabilistic w.r.t. cosine: a true
    pair at cos ≥ t flips each bit with probability θ/π; identical
    vectors always collide. Raise nbits for smaller buckets (precision
    of the blocking) — the cosine verify keeps result precision exact
    either way.
    """
    from semantik_spark.functions.vectors import cosine
    from semantik_spark.operators.similarity import lsh_signature

    v = cache(emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
              .withColumn("sig", lsh_signature("v", dim, nbits)))
    banded = v.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(band).alias("band"),
                F.shiftright(F.col("sig"), lo)
                 .bitwiseAND(F.lit((1 << w) - 1)).alias("band_key"),
            )
            for band, lo, w in simhash_band_plan(nbits, max_hamming)
        ])).alias("bk"),
    ).select("vec_id", "bk.band", "bk.band_key")
    candidates = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "band_key"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    return (
        candidates
        .join(v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va")), "vec_a")
        .join(v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")), "vec_b")
        .withColumn("cos", cosine("va", "vb"))
        .where(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def sentence_dedup_stats(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", min_docs: int = 2) -> DataFrame:
    """C4-style cross-document sentence dedup signal: per document, how
    many of its sentences also appear (normalized) in other documents.

    Sentences are regex-split on terminal punctuation + space, trimmed
    and lower-cased, then hashed (hash60). A sentence is "duplicated"
    when its hash occurs in >= min_docs distinct documents. Returns
    doc_id, n_sentences, n_dup_sentences, dup_frac (6dp).

    Scale: explode -> one groupBy on the 60-bit sentence hash (the only
    wide shuffle, with map-side combine) -> hash-join back. The dup-set
    is a tiny fraction of the corpus; AQE will usually broadcast it.
    C4's line-level dedup (Raffel et al. 2020) is this exact shape with
    '\\n' as the splitter.
    """
    sents = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), r"[.!?] ")).alias("s"),
        )
        .select("doc_id", F.lower(F.trim(F.col("s"))).alias("s"))
        .where(F.col("s") != "")
        .withColumn("h", hash60("s"))
    )
    dup = (
        sents.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        sents.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_sentences"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("int").alias("n_dup_sentences"),
        )
        .withColumn("dup_frac", F.round(F.col("n_dup_sentences") / F.col("n_sentences"), 6))
    )


def canonical_docs(docs: DataFrame, quality: DataFrame,
                   num_hashes: int = 16, bands: int = 4, n: int = 3,
                   threshold: float = 0.5,
                   id_col: str = "doc_id",
                   quality_col: str = "quality_score") -> DataFrame:
    """Cluster-representative selection — the dedup pass a training
    pipeline actually ships: every document mapped to its near-dup
    cluster (MinHash-LSH pairs → connected components; singletons are
    their own cluster), and ONE canonical doc chosen per cluster by
    highest quality score (tie → smallest doc_id). Keep the canonical
    rows, drop the rest, and the corpus is deduplicated without losing
    the best-written copy.

    ``quality`` is any (doc_id, quality_score) DataFrame — typically
    textanalysis.quality_features output — so the selection criterion
    is pluggable. Scores are rounded to 6 dp BEFORE ranking so the
    winner is engine-portable.

    Returns doc_id, cluster_id, cluster_size, quality_score, is_canonical.

    Scale: reuses the banded MinHash pairs + min-label propagation
    (each round one shuffle, lineage-truncated); the final ranking is
    one window over cluster_id — clusters are near-dup groups, so
    partitions are tiny and skew-free.
    """
    # pairs -> CC directly: duplicate_clusters' per-cluster size window
    # would be recomputed below anyway (canonical_docs windows over the
    # joined base), so going through it paid one discarded shuffle.
    # Eager localCheckpoint (VERDICT r7 item 4): CC's symmetrizing
    # union otherwise carries the full LSH chain (shingle -> minhash ->
    # band join -> verify) in BOTH union branches, evaluating it twice
    # inside round 1's materialization; checkpointing first runs the
    # chain once and the union reads a leaf. Measured 3.3s -> 2.6s
    # clean median at sf0.1 (the same pattern incremental_components
    # callers already use).
    pairs = checkpoint(minhash_lsh_pairs(docs, num_hashes, bands, n, threshold,
                                         id_col, "text"))
    cc = connected_components(pairs, edges_canonical=True)
    clusters = cc.select(F.col("node").alias("doc_id"),
                         F.col("component").alias("cluster_id"))
    q = quality.select(F.col(id_col).alias("doc_id"),
                       F.round(F.col(quality_col), 6).alias("quality_score"))
    base = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
        .join(q, "doc_id")
    )
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        base.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_canonical", F.row_number().over(wr) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "quality_score", "is_canonical")
    )


def duplicate_spans(docs: DataFrame, k: int = 10, min_docs: int = 2,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The span-level output of exact-substring dedup (Lee et al. 2022
    §3.1 "ExactSubstr"): where repeated_passages reports per-doc dup
    FRACTIONS, this returns the actual token ranges to cut — every
    maximal run of k-token windows whose hash occurs in >= ``min_docs``
    distinct documents, merged per document into non-overlapping spans
    (overlapping or adjacent windows coalesce, the island trick).

    Returns (doc_id, span_id, start_token, end_token, n_tokens,
    n_windows): 1-based inclusive token positions, span_id numbering
    spans within a doc by start position.

    Scale: identical shuffle profile to repeated_passages (one groupBy
    on the 60-bit window hash — the distributed substitute for the
    suffix array; repeated hashes a small fraction, AQE-broadcast back)
    plus one window+groupBy partitioned by doc_id over DUP windows only
    — the output side, orders of magnitude smaller than the corpus.
    """
    from semantik_spark.functions.parallel import spread

    # window construction concatenates k tokens per position — O(tokens
    # × k) string work that a single-file scan would run on one core;
    # spread() unlocks an N-way stage (no-op at production partition
    # counts). wh then feeds BOTH the dup-hash aggregate and the join
    # back — cache the narrow (doc_id, start, h) table so the window
    # build runs once.
    tok = spread(docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    ), "doc_id")
    n = F.size("_toks")
    width = n - F.lit(k) + 1
    windows = F.when(
        width >= 1,
        F.transform(F.sequence(F.lit(1), width),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i, k))),
    ).otherwise(F.array().cast("array<string>"))
    wh = cache(tok.select(
        "doc_id", F.posexplode(windows).alias("pos", "w")
    ).select("doc_id", (F.col("pos") + 1).alias("start"), hash60("w").alias("h")))
    dup_h = (
        wh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    dup_w = wh.join(dup_h, "h").select(
        "doc_id", "start", (F.col("start") + F.lit(k - 1)).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_w.withColumn(
        "_new",
        F.when(
            F.col("start") > F.coalesce(F.max("end").over(w_prev) + 1,
                                        F.lit(-1).cast("bigint")),
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("span_id", F.sum("_new").over(w_run))
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(
            F.min("start").cast("bigint").alias("start_token"),
            F.max("end").cast("bigint").alias("end_token"),
            F.count("*").cast("bigint").alias("n_windows"),
        )
        .select(
            "doc_id", F.col("span_id").cast("int").alias("span_id"),
            "start_token", "end_token",
            (F.col("end_token") - F.col("start_token") + 1).cast("bigint").alias("n_tokens"),
            "n_windows",
        )
    )


def cut_spans(docs: DataFrame, k: int = 10, min_docs: int = 2,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Apply exact-substring dedup: emit the CLEANED corpus with every
    duplicated span (duplicate_spans output) cut out of every document
    — the final step of the Lee et al. 2022 ExactSubstr pipeline (§3.1
    "we remove the duplicated substring from the dataset"). Where
    duplicate_spans reports what to cut, this performs the cut, so a
    training-data pipeline can feed the result straight to packing.

    Returns (doc_id, n_tokens_before, n_tokens_removed, n_tokens_after,
    cleaned_text): tokens are the lowercased whitespace tokens the span
    positions are defined over; documents with no duplicated spans pass
    through with n_tokens_removed = 0.

    Scale: duplicate_spans' profile (one hash groupBy + one per-doc
    window over DUP windows only) plus one groupBy(doc_id) to pack each
    doc's spans into an array — spans-per-doc is tiny and bounded by
    doc length, so the packed array is safe — and one equi-join of the
    corpus against that packed table (AQE-broadcast: the span table
    only has rows for docs that contain duplicates). The cut itself is
    a codegen'd Column expression (filter/transform over the token
    array), map-only.
    """
    spans = (
        duplicate_spans(docs, k=k, min_docs=min_docs,
                        id_col=id_col, text_col=text_col)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("start_token", "end_token")).alias("_spans"))
    )
    tok = docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    )
    joined = tok.join(spans, "doc_id", "left").withColumn(
        "_spans", F.coalesce("_spans", F.array().cast(
            "array<struct<start_token:bigint,end_token:bigint>>"))
    )
    # sequence(1, 0) is the DESCENDING [1, 0] in Spark, so empty docs
    # must short-circuit to an empty position array
    positions = F.when(
        F.size("_toks") > 0,
        F.sequence(F.lit(1).cast("bigint"), F.size("_toks").cast("bigint")),
    ).otherwise(F.array().cast("array<bigint>"))
    kept_pos = F.filter(
        positions,
        lambda p: ~F.exists(
            "_spans",
            lambda s: (p >= s["start_token"]) & (p <= s["end_token"]),
        ),
    )
    out = joined.withColumn("_kept", kept_pos)
    return out.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("n_tokens_before"),
        (F.size("_toks") - F.size("_kept")).cast("bigint").alias("n_tokens_removed"),
        F.size("_kept").cast("bigint").alias("n_tokens_after"),
        F.concat_ws(
            " ", F.transform("_kept", lambda p: F.element_at("_toks", p.cast("int")))
        ).alias("cleaned_text"),
    )


def repeated_passages(docs: DataFrame, k: int = 10, min_docs: int = 2,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-substring contamination signal — the k-gram-fingerprint
    formulation of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022): every k-token window of every document
    is hashed (hash60 of the space-joined window), and a window is
    REPEATED when its hash occurs in >= ``min_docs`` distinct
    documents. Catches copied passages that document-level near-dup
    misses (boilerplate, licenses, quoted blocks).

    Returns per-doc: doc_id, n_windows, n_dup_windows, dup_frac (6dp);
    docs shorter than k tokens have 0 windows and dup_frac 0.

    Scale: windows are built map-side from one materialized token
    array (no re-tokenize per window), so the single wide shuffle is
    the groupBy on the 60-bit window hash — O(total corpus tokens)
    rows with map-side combine, the canonical distributed substitute
    for Lee et al.'s suffix array. The repeated-hash set is a small
    fraction of windows; AQE broadcasts it for the join back.
    """
    from semantik_spark.functions.parallel import spread

    # same shape as duplicate_spans: spread the O(tokens × k) window
    # build across cores, cache the narrow (doc_id, h) table that
    # feeds both the dup-hash aggregate and the per-doc join
    tok = spread(docs.select(
        F.col(id_col).alias("doc_id"), whitespace_tokens(text_col).alias("_toks")
    ), "doc_id")
    n = F.size("_toks")
    width = n - F.lit(k) + 1
    windows = F.when(
        width >= 1,
        F.transform(F.sequence(F.lit(1), width),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i, k))),
    ).otherwise(F.array().cast("array<string>"))
    wh = cache(tok.select("doc_id", F.explode(windows).alias("w"))
               .select("doc_id", hash60("w").alias("h")))
    dup = (
        wh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h", F.lit(True).alias("_dup"))
    )
    per_doc = (
        wh.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).cast("bigint").alias("n_dup_windows"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
            F.round(
                F.when(F.coalesce("n_windows", F.lit(0)) > 0,
                       F.coalesce("n_dup_windows", F.lit(0))
                       / F.col("n_windows").cast("double")).otherwise(0.0), 6
            ).alias("dup_frac"),
        )
    )


def fuzzy_pairs(docs: DataFrame, prefix_len: int = 12, cmp_len: int = 40,
                max_dist: int = 5, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Edit-distance near-duplicates with prefix blocking: documents
    whose normalized heads (lowercased, whitespace-collapsed, first
    ``cmp_len`` chars) are within ``max_dist`` Levenshtein edits, but
    ONLY compared inside blocks sharing the first ``prefix_len``
    normalized chars — the classic blocking that turns O(n²)
    edit-distance dedup into per-block work (records whose first
    prefix_len chars already differ cannot be head-near-duplicates
    when max_dist < edits needed to fix the prefix... strictly this
    blocking is a recall heuristic, the standard trade).

    doc_a, doc_b, dist. One shuffle on the block key; Levenshtein runs
    only on candidate pairs (JVM builtin, not a UDF). Block-key skew =
    boilerplate heads; at 100 TB widen prefix_len or salt hot blocks.
    """
    head = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "), 1, cmp_len
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        head.alias("head"),
        F.substring(head, 1, prefix_len).alias("block"),
    )
    a = base.select(F.col("id").alias("doc_a"), F.col("head").alias("head_a"), "block")
    b = base.select(F.col("id").alias("doc_b"), F.col("head").alias("head_b"), "block")
    return (
        a.join(b, "block")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("dist", F.levenshtein("head_a", "head_b"))
        .where(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def jaccard_prefix_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """EXACT Jaccard near-dup join with prefix filtering (Chaudhuri et
    al. 2006 / PPJoin family) — the scale-safe exact path, complementing
    ngram_jaccard_pairs (any-shared-shingle candidates — fan-out on
    common shingles) and minhash LSH (probabilistic recall).

    Guarantee: order every doc's shingles by ascending global document
    frequency (rarest first, shingle-lexicographic tiebreak); if
    J(A,B) >= t then |A∩B| >= t·|A|, so A's first
    |A| - ceil(t·|A|) + 1 shingles must contain an intersection
    element (pigeonhole) — candidates = pairs sharing a PREFIX
    shingle, with perfect recall and a candidate set driven by RARE
    shingles only (the df-ascending order is what kills the
    common-shingle fan-out).

    doc_a, doc_b, jaccard (6 dp). Shape: df via a COUNT window over
    shingle (not a groupBy+join — one less join for AQE to re-plan;
    the r5 bench showed a 2.2x run-to-run spread traced to plan flips
    on this stage, VERDICT r5 item 4), one doc-partitioned rank
    window, the prefix self-join on an EXPLICIT hash repartition of
    the cached prefix table (both sides pre-partitioned on shingle —
    the join shape cannot flip), then per-candidate verification on
    the materialized shingle ARRAYS (array_intersect — no second
    explode join).
    """
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    docs = docs.repartition(n_part, id_col)
    # ONE tokenize+shingle corpus pass: the cached array table feeds
    # the prefix ranking AND both verification join sides (was three
    # independent corpus passes — shingle_sets once, shingle_arrays
    # re-planned per join side). n_shingles = size of the cached
    # distinct array ≡ shingle_sets' per-doc exploded-row count.
    arr = cache(shingle_arrays(docs, n, id_col, text_col)
                .select("doc_id", "shingles"))
    s = arr.select(
        "doc_id", F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    # global document frequency per shingle as a window, rarest-first
    # prefix rank per doc — two window shuffles, zero joins
    s = s.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle")).cast("bigint")
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    plen = F.col("n_shingles") - F.ceil(F.lit(threshold) * F.col("n_shingles")) + 1
    prefix = cache(
        s.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= plen)
        .select("doc_id", "shingle")
        .repartition(n_part, "shingle")
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(prefix.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(arr.select(F.col("doc_id").alias("doc_a"),
                             F.col("shingles").alias("sh_a")), "doc_a")
        .join(arr.select(F.col("doc_id").alias("doc_b"),
                         F.col("shingles").alias("sh_b")), "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jacc_raw",
            F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .where(F.col("jacc_raw") >= threshold)  # raw compare, ngram_jaccard_pairs parity
        .select("doc_a", "doc_b", F.round("jacc_raw", 6).alias("jaccard"))
    )


def lsh_recall_report(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                      n: int = 3, threshold: float = 0.5,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Recall of the MinHash-LSH candidate stage against ground truth,
    bucketed by true Jaccard — the quality report that justifies (or
    indicts) a banding config before a 100 TB run.

    Ground truth = ngram_jaccard_pairs (exact, any-shared-shingle);
    found = minhash_lsh_pairs (banded candidates, then exact-verified,
    so found ⊆ exact at the same threshold and precision is 1 by
    construction — recall is the only open question, driven by the
    S-curve P(candidate) = 1-(1-j^r)^b). Output one row per 0.1-wide
    Jaccard bucket: jaccard_lo, n_exact, n_found, recall (6 dp).

    Scale note: ground truth is the quadratic-ish exact join, so this
    runs on a SAMPLE at 100 TB (the report is a statistic, not a
    pipeline stage); every sub-operator reused here keeps its own
    at-scale shape.
    """
    exact = ngram_jaccard_pairs(docs, n=n, threshold=threshold,
                                id_col=id_col, text_col=text_col)
    found = minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands, n=n,
                              threshold=threshold, id_col=id_col,
                              text_col=text_col).select(
        "doc_a", "doc_b", F.lit(1).alias("hit"))
    lab = exact.join(found, ["doc_a", "doc_b"], "left").select(
        (F.floor(F.col("jaccard") * 10).cast("int")).alias("b"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    return lab.groupBy("b").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum("hit").cast("bigint").alias("n_found"),
        F.round(F.sum("hit") / F.count("*"), 6).alias("recall"),
    ).select(
        (F.col("b").cast("double") / 10.0).alias("jaccard_lo"),
        "n_exact", "n_found", "recall",
    )


def edit_distance_pairs(df: DataFrame, string_col: str,
                        max_dist: int = 1) -> DataFrame:
    """Near-identical string pairs (Levenshtein <= ``max_dist``, which
    must be 1) over the DISTINCT values of ``string_col``, without the
    all-pairs product: deletion-neighborhood blocking (the FastSS
    family — Bocek et al. 2007, public algorithm). Each string emits
    its single-character-deletion variants plus itself; two strings at
    edit distance <= 1 ALWAYS share a variant (equal -> the string
    itself; insertion -> the shorter string is a variant of the longer;
    substitution -> deleting the edited position from both yields the
    same variant), so the variant equi-join is a complete candidate
    generator and the Levenshtein check only verifies, never discovers.

    Output (name_a, name_b, dist), name_a < name_b, dist <= max_dist,
    equal strings excluded (they are exact-dedup's job).

    Scale shape: variants are O(len) per DISTINCT string — the join key
    space is (distinct strings x avg length), shuffled once on the
    variant hash; no CartesianProduct at any corpus size (asserted in
    tests/test_plans.py). The classic skew risk (one hyper-shared
    variant) is bounded by variant length itself — only near-identical
    strings can share one.

    max_dist > 1 would need k-deletion neighborhoods (variant count
    O(len^k)); rejected explicitly rather than silently under-blocking.
    """
    if max_dist != 1:
        raise ValueError("deletion-neighborhood blocking is exact only "
                         "for max_dist=1; got %r" % max_dist)
    s = F.col("s")
    names = (
        df.select(F.col(string_col).cast("string").alias("s"))
        .where(s.isNotNull())
        .distinct()
    )
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substr(s, F.lit(1), i - 1),
            F.substr(s, i + 1, F.length(s)),
        ),
    )
    variants = names.select(
        "s", F.explode(F.array_union(F.array(s), deletions)).alias("v")
    )
    ca = variants.select(F.col("s").alias("name_a"), "v")
    cb = variants.select(F.col("s").alias("name_b"), "v")
    cand = (
        ca.join(cb, "v")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    return cand.where(
        F.levenshtein("name_a", "name_b") <= max_dist
    ).select(
        "name_a", "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    )


def semdedup(emb: DataFrame, threshold: float = 0.95, n_centroids: int = 16,
             refine_iters: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with k-means, then search for duplicate pairs ONLY
    within each cluster — the clustering is what turns O(n²) semantic
    dedup into n_centroids independent cell-local problems.

    vec_id, centroid_id, kept — ``kept=false`` iff the vector has a
    same-cell neighbor with cosine >= threshold and a SMALLER vec_id
    (the paper keeps a per-group representative chosen by a tunable
    rule — random, or lowest centroid similarity; smallest-id is the
    deterministic variant that lets the DuckDB oracle replay the exact
    kept set, and the paper reports the choice barely moves results).

    Codebook: similarity.ivf_centroids seeds + ivf_refine Lloyd steps
    (6 dp means — oracle-replayable), assignment by cosine with
    tie -> smaller cid, identical to the serving IVF index, so one
    clustering can back BOTH the ANN index and the dedup pass.

    Scale shape: assignment is a narrow map over a broadcast codebook
    (no shuffle); the pair search shuffles once on centroid_id and the
    self-join is cell-local — with the paper's cluster count (they use
    50k clusters for LAION) cells stay ~corpus/n_centroids and no pair
    generation ever crosses cells. A pathological cell (mass duplicate
    collapse) is the same hot-key regime as the LSH band path and takes
    the same salted-join escape (functions/skew.py).
    """
    from semantik_spark.functions.caching import cache
    from semantik_spark.functions.vectors import cosine
    from semantik_spark.operators.similarity import (
        _codebook_df, _nearest_centroids, ivf_centroids, ivf_refine,
    )

    v = emb.select(F.col(id_col).alias("vec_id"),
                   F.col(vec_col).cast("array<double>").alias("v"))
    cent_rows = ivf_centroids(v, n_centroids, "vec_id", "v")
    if refine_iters:
        cent_rows = ivf_refine(v, cent_rows, iters=refine_iters,
                               id_col="vec_id", vec_col="v")
    codebook = F.broadcast(_codebook_df(emb.sparkSession, cent_rows))
    # spread (r14): the per-row assignment (n_centroids cosines/vector)
    # otherwise runs in one task over the one-file scan; centroid_id is
    # per-row deterministic and the duplicate test below is an exact
    # threshold + distinct — placement-free
    from semantik_spark.functions.parallel import spread
    assigned = cache(
        spread(v, "vec_id").crossJoin(codebook).withColumn(
            "centroid_id", -F.array_max(_nearest_centroids("v"))["negcid"]
        ).drop("cents")
    )
    # cell-local duplicate test: does a smaller-id neighbor above the
    # threshold exist? (left-semi join == decorrelated EXISTS)
    removed = (
        assigned.alias("a")
        .join(assigned.alias("b"), "centroid_id")
        .where((F.col("b.vec_id") < F.col("a.vec_id"))
               & (cosine(F.col("a.v"), F.col("b.v")) >= threshold))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    rm = removed.select(F.col("vec_id").alias("_rm_id"))
    return (
        assigned
        .join(rm, assigned["vec_id"] == rm["_rm_id"], "left")
        .select(
            "vec_id",
            "centroid_id",
            F.col("_rm_id").isNull().alias("kept"),
        )
    )


def merge_components(state: DataFrame | None, new_edges: DataFrame,
                     node_a: str = "doc_a", node_b: str = "doc_b") -> DataFrame:
    """Incremental connected components: fold a batch of NEW edges into
    an existing (node, component) labeling without replaying old edges.
    The previous state enters as STAR EDGES (node—component, including
    the self-edge singletons keep), which preserve every previous
    component's connectivity exactly, so CC over (star edges ∪ new
    edges) equals CC over all edges ever seen — for ANY batch split
    (test-pinned; the standard union-find-by-contraction argument).
    Labels stay the global min doc_id, identical to the batch operator.

    The streaming complement to streaming_lsh_dedup: the match log
    says WHICH pairs are near-dups at ingestion; this maintains the
    cluster assignment those pairs imply, at per-batch cost
    O(|state| + |batch edges|), never O(all edges).

    Returns the new full state (node, component).
    """
    edges = new_edges.select(F.col(node_a).alias("doc_a"),
                             F.col(node_b).alias("doc_b"))
    if state is not None:
        edges = edges.unionByName(
            state.select(F.col("node").alias("doc_a"),
                         F.col("component").alias("doc_b"))
        )
    return connected_components(edges)


def incremental_components(spark, state_path: str,
                           new_edges: DataFrame) -> DataFrame:
    """Persisted-state wrapper over merge_components: read the previous
    (node, component) state (absent on the first batch), fold the new
    edges in, dir-swap persist the result (the streaming sketch-state
    pattern — write to a versioned subdir, then flip a pointer file;
    here a plain overwrite of a localCheckpoint'd plan suffices since
    the read is fully materialized before the write). Returns the new
    state DataFrame (re-read, so callers see exactly what persisted)."""
    try:
        old = spark.read.parquet(state_path)
        _ = old.head(1)
    except Exception:
        old = None
    new_state = checkpoint(merge_components(old, new_edges))
    new_state.write.mode("overwrite").parquet(state_path)
    return spark.read.parquet(state_path)

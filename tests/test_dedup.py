"""Dedup family: exact hash groups, n-gram Jaccard, MinHash-LSH recall
vs exact, SimHash hamming, embedding cosine dups."""

from __future__ import annotations

import pytest

from semantik_spark.operators.dedup import (
    connected_components,
    duplicate_clusters,
    embedding_dup_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)


def test_exact_duplicates_groups(docs):
    groups = exact_duplicates(docs).collect()
    # docs 1 and 2 are byte-identical → one group of 2, keeper = min id
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 2 and g["keep_doc_id"] == 1


def test_ngram_jaccard_finds_neardup_pair(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)  # identical text
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] < 1  # near-dup overlaps
    assert (1, 4) not in pairs  # no shared shingles → never a candidate


def test_jaccard_value_hand_computed(spark):
    # shingles(a) = {"x y z","y z w"}; shingles(b) = {"x y z","y z q"}
    # intersection 1, union 3 → jaccard 1/3
    df = spark.createDataFrame([(1, "x y z w"), (2, "x y z q")], ["doc_id", "text"])
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(1 / 3)


def test_minhash_lsh_catches_exact_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3, threshold=0.9).collect()}
    assert (1, 2) in pairs  # identical docs always collide in every band


def test_minhash_lsh_jaccard_matches_exact(docs):
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           minhash_lsh_pairs(docs, num_hashes=16, bands=4, n=3, threshold=0.2).collect()}
    # LSH verifies candidates with the SAME exact jaccard — any pair it
    # emits must carry the exact value (it may miss pairs, never invent)
    for pair, j in lsh.items():
        assert exact[pair] == pytest.approx(j)


def test_simhash_identical_docs_equal_signature(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_simhash_pairs_hamming(docs):
    rows = simhash_pairs(docs, max_hamming=3).collect()
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert found[(1, 2)] == 0


def test_embedding_dup_pairs(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),       # identical → cos 1
            (3, [0.999, 0.04, 0.0]),    # near-identical
            (4, [0.0, 1.0, 0.0]),       # orthogonal
        ],
        ["vec_id", "embedding"],
    )
    pairs = {(r["vec_a"], r["vec_b"]): r["cos"] for r in
             embedding_dup_pairs(emb, threshold=0.99).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs
    assert all(b != 4 and a != 4 for a, b in pairs)


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3 → needs >1 propagation round) + pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_clusters_survivors(docs):
    # conftest docs: 1==2 exact dup, 3 near-dup of 1 → one cluster {1,2,3}
    out = duplicate_clusters(docs, num_hashes=16, bands=8, n=3, threshold=0.2).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[1]["cluster_id"] == 1 and by_doc[2]["cluster_id"] == 1
    assert by_doc[1]["is_keeper"] and not by_doc[2]["is_keeper"]
    assert by_doc[2]["cluster_size"] >= 2
    # non-dup docs don't appear
    assert 5 not in by_doc


def test_canonical_docs_picks_best_quality(spark):
    """Canonical = highest quality in the cluster even when it is NOT
    the smallest doc_id; singletons are their own canonical cluster."""
    from semantik_spark.operators.dedup import canonical_docs

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, dup_text), (2, dup_text), (3, "something entirely different here")],
        ["doc_id", "text"],
    )
    # doc 2 (larger id) gets the higher score — it must win the cluster
    quality = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.7)], ["doc_id", "quality_score"])
    rows = {r["doc_id"]: r for r in canonical_docs(docs, quality).collect()}
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == 1
    assert rows[1]["cluster_size"] == 2
    assert not rows[1]["is_canonical"] and rows[2]["is_canonical"]
    assert rows[3]["cluster_size"] == 1 and rows[3]["is_canonical"]


def test_canonical_docs_tie_breaks_on_doc_id(spark):
    from semantik_spark.operators.dedup import canonical_docs

    dup_text = "identical words repeated identical words repeated enough times"
    docs = spark.createDataFrame([(5, dup_text), (9, dup_text)], ["doc_id", "text"])
    quality = spark.createDataFrame([(5, 0.5), (9, 0.5)], ["doc_id", "quality_score"])
    rows = {r["doc_id"]: r for r in canonical_docs(docs, quality).collect()}
    assert rows[5]["is_canonical"] and not rows[9]["is_canonical"]


def test_band_plan_pigeonhole_property():
    """Pure-math guard for the banding recall guarantee both
    simhash_pairs and embedding_dup_pairs depend on: the bands
    partition [0, bits) exactly, and ANY two signatures within
    max_hamming differing bits agree on at least one band (pigeonhole:
    max_hamming flips cannot hit all max_hamming+1 bands)."""
    import itertools

    from semantik_spark.operators.dedup import simhash_band_plan

    for bits, max_hamming in [(8, 1), (8, 3), (12, 2), (60, 3), (60, 8), (5, 7)]:
        plan = simhash_band_plan(bits, max_hamming)
        covered = sorted(
            b for _, lo, w in plan for b in range(lo, lo + w))
        assert covered == list(range(bits)), (bits, max_hamming)
        # brute-force the guarantee on the small cases. The pigeonhole
        # holds for pairs within min(max_hamming, nbands-1) flips —
        # when max_hamming >= bits the bands degrade to single bits and
        # the guarantee caps at bits-1 (production params 60/<=8 and
        # 8/1 are far inside the valid regime).
        nbands = len(plan)
        guaranteed = min(max_hamming, nbands - 1)
        if bits <= 12:
            masks = [((1 << w) - 1) << lo for _, lo, w in plan]
            base = 0b0
            for nf in range(1, guaranteed + 1):
                for flips in itertools.combinations(range(bits), nf):
                    other = base
                    for f in flips:
                        other ^= 1 << f
                    agrees = any((base & m) == (other & m) for m in masks)
                    assert agrees, (bits, max_hamming, flips)


def test_repeated_passages_window_semantics(spark):
    """Exact k-gram windows: identical passages across docs are flagged,
    unique text is not, sub-k docs get zero windows."""
    from semantik_spark.operators.dedup import repeated_passages

    shared = "one two three four five"
    docs = spark.createDataFrame([
        (1, shared + " alpha beta"),     # 7 tokens: 3 windows of 5
        (2, shared + " gamma delta"),    # shares exactly the first window
        (3, "totally different words here now and then"),
        (4, "tiny doc"),                 # < k tokens
    ], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in repeated_passages(docs, k=5).collect()}
    assert rows[1]["n_windows"] == 3
    assert rows[1]["n_dup_windows"] == 1   # only the shared prefix window
    assert rows[2]["n_dup_windows"] == 1
    assert rows[3]["n_dup_windows"] == 0
    assert rows[4]["n_windows"] == 0 and rows[4]["dup_frac"] == 0.0
    assert rows[1]["dup_frac"] == round(1 / 3, 6)


def test_repeated_passages_within_doc_repeat_needs_min_docs(spark):
    """A passage repeated only WITHIN one doc does not count at
    min_docs=2 (distinct-doc semantics, like sentence dedup)."""
    from semantik_spark.operators.dedup import repeated_passages

    rep = "a b c d e"
    docs = spark.createDataFrame(
        [(1, rep + " x " + rep)], ["doc_id", "text"])
    row = repeated_passages(docs, k=5).collect()[0]
    assert row["n_dup_windows"] == 0


def test_cc_adversarial_chain_converges_logarithmically(spark):
    """A 4096-node chain is the worst case for pure neighbor-min
    propagation (diameter rounds = 4096); pointer jumping must label it
    correctly within a logarithmic round budget."""
    from pyspark.sql import functions as F

    from semantik_spark.operators import dedup

    n = 4096
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    cc = dedup.connected_components(edges, max_iter=25)
    rows = cc.collect()
    assert len(rows) == n
    assert {r["component"] for r in rows} == {0}
    # log2(4096)=12; allow slack for the final no-change round
    assert dedup.CC_LAST_ROUNDS <= 15, dedup.CC_LAST_ROUNDS


def test_cc_matches_union_find_on_random_graph(spark):
    """Pointer jumping must not change RESULTS: labels equal a
    driver-side union-find on a random (seeded) edge set with several
    components and isolated-pair tails."""
    import random

    from semantik_spark.operators import dedup

    rng = random.Random(42)
    nodes = list(range(300))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {}
    for v in touched:
        want.setdefault(find(v), set()).add(v)
    # canonical: component id = min member
    want = {min(m): m for m in want.values()}

    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {}
    for r in dedup.connected_components(df).collect():
        got.setdefault(r["component"], set()).add(r["node"])
    assert got == want


def test_cc_adaptive_jump_skips_pair_duplicate_graphs(spark):
    """The common near-dup graph (duplicate PAIRS, diameter 1) must
    never pay the pointer-jump join — that unconditional join was the
    r5 dedup_canonical 2.1x regression. Ratio after round 1 is ~0.5
    (only the larger of each pair changes), well under CC_JUMP_RATIO."""
    from pyspark.sql import functions as F

    from semantik_spark.operators import dedup

    # 500 disjoint pairs (i, i+1000)
    edges = spark.range(500).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1000).alias("doc_b"))
    cc = dedup.connected_components(edges)
    assert cc.count() == 1000
    assert dedup.CC_LAST_JUMPS == 0, dedup.CC_LAST_JUMPS
    assert dedup.CC_LAST_ROUNDS <= 3, dedup.CC_LAST_ROUNDS


def test_banded_candidates_salted_path_identical_and_spread(spark):
    """50%-duplicate corpus: half the docs share one text, so all its
    band buckets are hot. The salted path must (a) return exactly the
    candidate set of the plain self-join and (b) spread the hot
    bucket's quadratic fan-out across partitions instead of one
    reducer."""
    from pyspark.sql import functions as F

    from semantik_spark.functions.skew import salted_join
    from semantik_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "the same boilerplate sentence repeated everywhere in the corpus")
         if i % 2 == 0 else
         (i, f"genuinely distinct content {i} talking about topic {i * 13}")
         for i in range(500)], "doc_id bigint, text string")

    plain = dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                    hot_bucket_threshold=None)
    salted = dedup.minhash_lsh_pairs(docs, threshold=0.5,
                                     hot_bucket_threshold=50)
    assert sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                  for r in plain.collect()) == \
           sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 6))
                  for r in salted.collect())

    # partition spread of the raw salted self-join on one hot key:
    # 250 docs x 250 docs through salt=8 must never give one partition
    # the whole 62.5k-pair fan-out
    hot = spark.createDataFrame([(i, "k") for i in range(250)],
                                "doc_id bigint, _bkey string")
    ha = hot.select(F.col("doc_id").alias("doc_a"), "_bkey")
    hb = hot.select(F.col("doc_id").alias("doc_b"), "_bkey")
    joined = salted_join(ha, hb, on="_bkey", salt=8, fingerprint_col="doc_a")
    # AQE's partition coalescing hides the reducer spread at toy scale —
    # freeze it so spark_partition_id reflects the actual hash layout.
    # Shuffle partitions are pinned to 32: the session default follows
    # the core count, and at 4 the MEAN partition already equals the
    # bound below, so the spread check would fail on small boxes for
    # reasons unrelated to salting.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        sizes = [r["count"] for r in
                 joined.withColumn("pid", F.spark_partition_id())
                       .groupBy("pid").count().collect()]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert sum(sizes) == 250 * 250
    assert len(sizes) > 1
    assert max(sizes) < (250 * 250) / 4, sizes


def test_lsh_recall_report_found_subset_of_exact(spark, docs):
    from semantik_spark.operators.dedup import lsh_recall_report

    out = lsh_recall_report(docs, num_hashes=16, bands=4, n=3,
                            threshold=0.5).collect()
    assert out, "dup corpus must produce at least one exact pair bucket"
    for r in out:
        # verification after banding means precision 1: found <= exact
        assert 0 <= r["n_found"] <= r["n_exact"]
        assert r["recall"] == round(r["n_found"] / r["n_exact"], 6)
    # the exact-dup bucket (jaccard 1.0) is always found: every band of
    # identical signatures collides
    top = [r for r in out if r["jaccard_lo"] == 1.0]
    assert top and top[0]["recall"] == 1.0


def test_edit_distance_pairs_blocking_complete(spark):
    """Deletion-neighborhood candidates must find EVERY Levenshtein<=1
    pair — compare against the brute-force product on a vocabulary
    with insertions, deletions, substitutions, and red herrings."""
    import itertools

    from semantik_spark.operators.dedup import edit_distance_pairs

    vocab = ["kitten", "sitten", "sittin", "sitting", "kitte", "kittens",
             "mitten", "bitten", "bittten", "totally different", "xyz",
             "xz", "x", "", "ab", "ba", "abc"]
    df = spark.createDataFrame([(v,) for v in vocab], ["name"])
    got = {(r["name_a"], r["name_b"]) for r in
           edit_distance_pairs(df, "name").collect()}

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {tuple(sorted((a, b))) for a, b in itertools.combinations(vocab, 2)
            if lev(a, b) == 1}
    assert got == want
    # equal strings and dist>1 excluded
    assert all(a != b for a, b in got)


def test_edit_distance_pairs_rejects_unsupported_dist(spark):
    import pytest

    from semantik_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([("a",)], ["name"])
    with pytest.raises(ValueError, match="max_dist=1"):
        edit_distance_pairs(df, "name", max_dist=2)


def test_semdedup_removes_planted_duplicates(spark):
    """Exact planted duplicates (same vector, larger id) must land in
    the original's cell and be the removed side of the pair; originals
    with no same-cell neighbor above threshold stay kept."""
    import random

    from semantik_spark.operators.dedup import semdedup

    rnd = random.Random(7)
    base = [[rnd.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, base[i]) for i in range(0, 40, 10)]  # 4 exact dups
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(emb, threshold=0.999, n_centroids=4).collect()}
    assert len(out) == 44
    for i in range(0, 40, 10):
        assert out[100 + i]["centroid_id"] == out[i]["centroid_id"]
        assert out[100 + i]["kept"] is False
        assert out[i]["kept"] is True  # original is the smaller id
    # every removal is justified: a removed vec has >= 1 smaller-id
    # same-cell neighbor at cos >= threshold (here: its exact twin)
    removed = [k for k, r in out.items() if not r["kept"]]
    assert set(removed) == {100, 110, 120, 130}


def test_semdedup_cell_locality_blocks_cross_cell_pairs(spark):
    """Two identical vectors forced into different cells by the
    codebook are NOT compared (the paper's approximation): dedup is
    cell-local by design."""
    from semantik_spark.operators.dedup import semdedup

    # two orthogonal directions; seeds are the two smallest ids, one
    # per direction, no refinement -> cells are exactly the directions
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),   # dup of 0, same cell -> removed
        (3, [0.0, 1.0, 0.0, 0.0]),   # dup of 1, same cell -> removed
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r["kept"] for r in
           semdedup(emb, threshold=0.99, n_centroids=2,
                    refine_iters=0).collect()}
    assert out == {0: True, 1: True, 2: False, 3: False}


def test_duplicate_clusters_logs_cc_counters(spark, docs, tmp_path):
    """runlog wiring (r7, VERDICT item 10): a dedup run with
    runlog_path set appends an audit row whose counters carry the CC
    convergence observability — rounds ≥ 1 and, on a pair-duplicate
    corpus, zero adaptive jumps (the tests' pinned common case)."""
    import json

    from semantik_spark.operators.dedup import duplicate_clusters

    log = str(tmp_path / "runlog")
    duplicate_clusters(docs, runlog_path=log, run_id="r7test").count()
    rows = spark.read.parquet(log).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row["run_id"] == "r7test"
    assert row["op_type"] == "DEDUP_CLUSTERS"
    counters = json.loads(row["counters_json"])
    assert counters["cc_rounds"] >= 1
    assert counters["cc_jumps"] == 0
    assert json.loads(row["config_json"])["threshold"] == 0.5


def test_duplicate_spans_merges_overlapping_windows(spark):
    """Two docs share a 5-token run; with k=3 the three overlapping dup
    windows per doc must coalesce into ONE maximal span covering
    exactly the shared tokens (1-based inclusive positions)."""
    from semantik_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, shared + " u1 u2 u3"),
         (2, "v1 v2 " + shared),
         (3, "w1 w2 w3 w4 w5 w6 w7 w8")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in duplicate_spans(docs, k=3).collect()}
    assert set(rows) == {1, 2}  # doc 3 has no repeated content
    assert (rows[1]["start_token"], rows[1]["end_token"]) == (1, 5)
    assert (rows[2]["start_token"], rows[2]["end_token"]) == (3, 7)
    for r in rows.values():
        assert r["span_id"] == 1 and r["n_tokens"] == 5 and r["n_windows"] == 3


def test_duplicate_spans_separate_islands(spark):
    """Two dup runs separated by unique tokens stay two spans with
    ascending span_ids; within-doc-only repetition does not count
    (min_docs=2 needs distinct documents)."""
    from semantik_spark.operators.dedup import duplicate_spans

    a = "p q r"          # shared run 1
    b = "x y z"          # shared run 2
    docs = spark.createDataFrame(
        [(1, a + " mid1 mid2 " + b),
         (2, a + " other filler " + b),
         (3, "self self self self self self")],  # repeats only within itself
        ["doc_id", "text"],
    )
    rows = sorted(
        ((r["doc_id"], r["span_id"], r["start_token"], r["end_token"])
         for r in duplicate_spans(docs, k=3).collect())
    )
    assert rows == [(1, 1, 1, 3), (1, 2, 6, 8), (2, 1, 1, 3), (2, 2, 6, 8)]


def test_cut_spans_removes_exactly_the_dup_spans(spark):
    """cut_spans is duplicate_spans APPLIED: the shared run disappears
    from both docs, unique tokens survive in order, span-free docs pass
    through untouched, and the token accounting balances."""
    from semantik_spark.operators.dedup import cut_spans

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, shared + " u1 u2 u3"),
         (2, "v1 v2 " + shared),
         (3, "w1 w2 w3 w4 w5 w6 w7 w8"),
         (4, "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in cut_spans(docs, k=3).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["cleaned_text"] == "u1 u2 u3"
    assert rows[2]["cleaned_text"] == "v1 v2"
    assert rows[3]["cleaned_text"] == "w1 w2 w3 w4 w5 w6 w7 w8"
    assert rows[4]["cleaned_text"] == "" and rows[4]["n_tokens_before"] == 0
    for r in rows.values():
        assert r["n_tokens_before"] - r["n_tokens_removed"] == r["n_tokens_after"]
    assert rows[1]["n_tokens_removed"] == 5 and rows[2]["n_tokens_removed"] == 5
    assert rows[3]["n_tokens_removed"] == 0


def test_incremental_components_any_split_equals_batch(spark, tmp_path):
    """merge_components over ANY ordered batch split of an edge list
    yields the batch connected_components labeling exactly — including
    batches that MERGE previously separate components."""
    from semantik_spark.operators.dedup import (
        connected_components, incremental_components,
    )

    edges = [(1, 2), (3, 4), (5, 6), (2, 3),   # merges {1,2} with {3,4}
             (7, 8), (6, 7), (9, 10)]
    full = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    batch_cc = sorted(
        (r["node"], r["component"])
        for r in connected_components(full).collect()
    )
    for split in ([3], [2, 5], [1, 2, 3, 4, 5, 6]):
        state_path = str(tmp_path / f"state_{'_'.join(map(str, split))}")
        bounds = [0] + split + [len(edges)]
        state = None
        for i in range(len(bounds) - 1):
            chunk = edges[bounds[i]:bounds[i + 1]]
            if not chunk:
                continue
            state = incremental_components(
                spark, state_path,
                spark.createDataFrame(chunk, ["doc_a", "doc_b"]),
            )
        got = sorted((r["node"], r["component"]) for r in state.collect())
        assert got == batch_cc, split


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long wrapper: containment = 1.0
    (caught at threshold 0.8) while Jaccard = |A|/|B| stays far below —
    the structural gap the overlap coefficient exists to close."""
    from semantik_spark.operators.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    wrapper = ("header one two three four five six seven eight nine ten "
               + short + " footer eleven twelve thirteen fourteen fifteen")
    docs = spark.createDataFrame(
        [(1, short), (2, wrapper), (3, "totally unrelated content here")],
        ["doc_id", "text"],
    )
    rows = ngram_containment_pairs(docs, n=3, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.5  # Jaccard alone would have missed it


def test_lsh_band_config_validation_and_null_hash_exclusion(spark):
    """bands must divide num_hashes (a silent remainder changes the
    miss curve; bands > num_hashes degenerates to one universal
    bucket and the full O(N^2) candidate set); NULL-text docs must
    never be reported as one byte-identical duplicate group."""
    import pytest as _pytest

    from semantik_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        ["doc_id", "text"])
    with _pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)
    with _pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=20)

    nulls = docs.unionByName(spark.createDataFrame(
        [(3, None), (4, None)], "doc_id long, text string"))
    groups = exact_duplicates(nulls).collect()
    dup_ids = {i for r in groups for i in r["duplicate_ids"]}
    assert 3 not in dup_ids and 4 not in dup_ids
    assert any(r["n_docs"] == 2 for r in groups)  # the real pair found

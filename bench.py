"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Noise-proofing (VERDICT r3 item 1): the sandbox shows 4-13x run-to-run
variance on identical code, so every query is executed REPS times
(default 3, override $SPARK_GRAFT_BENCH_REPS) after one JVM warm-up
action, and the reported per-query number in "queries" is the MEDIAN.
"queries_min" / "queries_max" record the spread so a judge can separate
steady-state latency from CPU-contention outliers; "value" is the sum of
medians. BASELINE.md comparable: amortized per-query search latency =
{dense,hybrid,bm25}_serve median / number of serve queries.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from semantik_spark.session import get_spark

REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# Queries whose FIRST rep lands under this many seconds get no further
# reps (VERDICT r6 item 9): sub-second map-only queries are stable, and
# tripling ~100 of them burned ~80s of suite wall without changing any
# gate metric. The rep budget concentrates on the heavy tail, where
# run-to-run variance actually moves medians. Override with
# $SPARK_GRAFT_BENCH_FASTCAP (0 disables the cap).
FAST_SINGLE_REP_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_FASTCAP", "0.8"))

# The three series are read off the registry rows' `bench` tag (see
# __spark_entry__.QueryRow): the timed .count() series in registry
# order; its one-rep subset, fixed-overhead replays that are left out of
# the suite "value" (they still appear in "queries" and are listed under
# "replays"); and the noop-sink series, one df.write.format("noop") run
# each after the count series, recorded as "<name>_noop" and also left
# out of "value", so the total stays comparable across rounds.
BENCH_QUERIES = [r.name for r in entrymod.QUERY_TABLE if r.bench]
ONE_REP_QUERIES = {r.name for r in entrymod.QUERY_TABLE if r.bench == "one_rep"}
NOOP_SINK_QUERIES = [r.name for r in entrymod.QUERY_TABLE if r.bench == "noop"]


def _timed(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn()
    return time.time() - t0, n


class PlanCounters:
    """Deterministic per-query execution counters (VERDICT r7 item 2).

    Wall-clock on a shared box cannot separate plan regressions from
    contention (the canary detects contamination but cannot correct it),
    so every query also records counters that are functions of the
    physical plan at a fixed SF, not of the box: Spark job count, stage
    count, task count, and total shuffle read/write bytes. A plan
    regression is a counter diff; a wall-clock move with unchanged
    counters is noise. Sourced from the Spark UI REST API
    (/api/v1/applications/<id>/{jobs,stages}); bench.py enables the UI
    via SPARK_GRAFT_UI=1 before building the session. Degrades to
    no-ops when the UI is off or the port is unreachable."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl
        self.app_id = spark.sparkContext.applicationId
        self.enabled = bool(self.base)

    def _get(self, path: str):
        import urllib.request

        url = f"{self.base}/api/v1/applications/{self.app_id}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)

    def snapshot(self) -> tuple[int, int]:
        """High-watermark (max jobId, max stageId) — deltas only ever
        look ABOVE the watermark, so UI retention eviction of old
        entries cannot skew a later query's counters."""
        if not self.enabled:
            return (-1, -1)
        try:
            jobs = self._get("jobs")
            stages = self._get("stages")
        except Exception:
            self.enabled = False
            return (-1, -1)
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def delta(self, snap: tuple[int, int]) -> dict:
        if not self.enabled:
            return {}
        mj, ms = snap
        try:
            jobs = [j for j in self._get("jobs") if j["jobId"] > mj]
            stages = [s for s in self._get("stages") if s["stageId"] > ms]
        except Exception:
            self.enabled = False
            return {}
        run = [s for s in stages if s.get("status") != "SKIPPED"]
        return {
            "jobs": len(jobs),
            "stages": len(run),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in run),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in run),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in run),
        }


def _record(name: str, times: list[float], med: dict, lo: dict, hi: dict,
            extra: str = "") -> None:
    med[name] = round(statistics.median(times), 3)
    lo[name] = round(min(times), 3)
    hi[name] = round(max(times), 3)
    spread = hi[name] / lo[name] if lo[name] > 0 else 1.0
    print(
        f"# {name}: median {med[name]:.3f}s  min {lo[name]:.3f}s  "
        f"max {hi[name]:.3f}s  ({spread:.1f}x spread){extra}",
        file=sys.stderr,
    )


def _bench_serving(spark, sf_dir: str, med: dict, lo: dict, hi: dict,
                   pc: "PlanCounters", counters: dict) -> None:
    """Build-vs-serve split (SURVEY §6 deployed shape): index build is
    measured once (it is a batch job, not a latency path); the serve
    queries run REPS times against the persisted parquet index, which is
    what BASELINE.md's service latencies describe. Amortized per-query
    serve latency = median wall / len(SEARCH_QUERIES)."""
    import shutil
    import tempfile

    from semantik_spark.operators import serving
    from semantik_spark.oracles import SEARCH_QUERIES

    idx_dir = tempfile.mkdtemp(prefix="bench_index_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        qdf = spark.createDataFrame(SEARCH_QUERIES, ["query_id", "query_text"])
        # build-path counters (VERDICT r8 what's-missing #4): the four
        # index builds carry job/stage/task/shuffle counters too, so a
        # build-plan regression (e.g. an extra corpus pass in training)
        # is a counter diff, not a wall-clock argument
        build_times = []
        for rep in range(REPS):
            shutil.rmtree(idx_dir, ignore_errors=True)
            if rep == 0:
                snap = pc.snapshot()
            dt, _n = _timed(lambda: (serving.build_index(docs, idx_dir), 0)[1])
            if rep == 0:
                c = pc.delta(snap)
                if c:
                    counters["index_build"] = c
            build_times.append(dt)
        _record("index_build", build_times, med, lo, hi)
        snap = pc.snapshot()
        t0 = time.time()
        serving.build_dense_ivf(docs, idx_dir, n_centroids=16)
        med["index_build_ivf"] = lo["index_build_ivf"] = hi["index_build_ivf"] = \
            round(time.time() - t0, 3)
        c = pc.delta(snap)
        if c:
            counters["index_build_ivf"] = c
        snap = pc.snapshot()
        t0 = time.time()
        serving.build_sparse_pruned(spark, idx_dir, keep=64)
        med["index_build_pruned"] = lo["index_build_pruned"] = hi["index_build_pruned"] = \
            round(time.time() - t0, 3)
        c = pc.delta(snap)
        if c:
            counters["index_build_pruned"] = c
        serves = [
            ("bm25_serve", lambda: serving.bm25_serve(spark, idx_dir, qdf, k=10)),
            ("dense_serve", lambda: serving.dense_serve(spark, idx_dir, qdf, k=10)),
            ("dense_ivf_serve", lambda: serving.dense_serve_ivf(spark, idx_dir, qdf, k=10, nprobe=4)),
            ("hybrid_serve", lambda: serving.hybrid_serve(spark, idx_dir, qdf, k=10, search_k=20)),
            # approximate path: IVF-probed dense + impact-pruned sparse
            ("hybrid_approx_serve", lambda: serving.hybrid_serve_approx(spark, idx_dir, qdf, k=10, search_k=20, nprobe=4)),
        ]
        for name, fn in serves:
            times = []
            n = 0
            for rep in range(REPS):
                if rep == 0:
                    snap = pc.snapshot()
                dt, n = _timed(lambda: fn().count())
                if rep == 0:
                    c = pc.delta(snap)
                    if c:
                        counters[name] = c
                times.append(dt)
            per_q = statistics.median(times) / len(SEARCH_QUERIES)
            _record(name, times, med, lo, hi,
                    extra=f"  ({n} rows, {per_q * 1000:.0f} ms/query at median)")
        # persisted IVFADC layout (r7): build once from the embeddings
        # table, then serve the 10 held-out query vectors per rep —
        # partition-pruned ADC scan + pushdown rescore
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        corpus = emb.where("vec_id >= 10")
        vq = emb.where("vec_id < 10").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"))
        snap = pc.snapshot()
        t0 = time.time()
        serving.write_ivfpq_index(corpus, idx_dir, dim=64, n_centroids=16,
                                  m=8, pq_centroids=16)
        med["index_build_ivfpq"] = lo["index_build_ivfpq"] = \
            hi["index_build_ivfpq"] = round(time.time() - t0, 3)
        c = pc.delta(snap)
        if c:
            counters["index_build_ivfpq"] = c
        times = []
        n = 0
        for rep in range(REPS):
            if rep == 0:
                snap = pc.snapshot()
            dt, n = _timed(lambda: serving.ivfpq_serve(
                spark, idx_dir, vq, k=5, nprobe=4, rescore_k=20).count())
            if rep == 0:
                c = pc.delta(snap)
                if c:
                    counters["ivfpq_serve"] = c
            times.append(dt)
        nq = vq.count()
        per_q = statistics.median(times) / max(nq, 1)
        _record("ivfpq_serve", times, med, lo, hi,
                extra=f"  ({n} rows, {per_q * 1000:.0f} ms/query at median)")
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def _bench_skew(spark, sf_dir: str, med: dict, lo: dict, hi: dict,
                pc: "PlanCounters", counters: dict) -> None:
    """Skew-stress (VERDICT r5 item 9): 10% of the corpus collapsed
    onto one boilerplate text, so ONE band bucket per band holds the
    whole duplicate group and minhash_lsh_pairs must take the salted
    hot-band path (hot_bucket_threshold forced below the group size).
    The salted path's row-identity and partition spread are unit-tested
    (tests/test_dedup.py); this records what it COSTS — the quadratic
    hot-bucket fan-out pushed through salted reducers instead of one."""
    from pyspark.sql import functions as F

    from semantik_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    boiler = F.lit(
        "terms of service privacy policy cookie notice all rights reserved "
        "contact us about careers press sitemap subscribe to our newsletter"
    )
    skewed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, boiler).otherwise(F.col("text")).alias("text"),
    )
    # one rep, not REPS: this is a stress check (does the machinery
    # hold and what does it cost), not a latency gate — at sf0.1 it
    # pushes ~125k hot-bucket pairs and runs ~19s, too heavy to triple
    snap = pc.snapshot()
    dt, n = _timed(
        lambda: minhash_lsh_pairs(
            skewed, threshold=0.5, hot_bucket_threshold=32
        ).count()
    )
    c = pc.delta(snap)
    if c:
        counters["dedup_skew_stress"] = c
    _record("dedup_skew_stress", [dt], med, lo, hi, extra=f"  ({n} pairs)")


def _bench_canary(spark, sf_dir: str) -> float:
    """Fixed noise canary (VERDICT r6 item 4): a constant scan+agg over
    lineitem whose plan never changes round to round. Its ratio to the
    historical value (README 'Reading the bench canary') deflates the
    round's medians — when the canary runs 1.4x its usual cost, a
    uniform 1.4x inflation across unchanged queries is box contention,
    not a plan regression."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    job = lambda: li.groupBy("l_returnflag").agg(  # noqa: E731
        F.count("*"), F.sum("l_quantity")).count()
    times = [_timed(job)[0] for _ in range(3)]
    return statistics.median(times)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # counters need the UI REST endpoint; must be set before the session
    # is built (see PlanCounters)
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    spark = get_spark("bench")
    qs = entrymod.queries()

    # iteration filter: SPARK_GRAFT_ONLY="q1,q2" benches a subset (the
    # suite is ~300 queries now, far past the quick-loop budget); the
    # driver never sets it, so round artifacts stay full-suite. The
    # subset run skips the serving/skew sections and overwrites
    # BENCH_DETAIL.json, so copy artifacts aside before iterating.
    only = {q for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if q}

    # warm the JVM/parquet-footer caches with one tiny action so the
    # first measured query doesn't pay session startup
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    # serve-shaped JIT warm-up (r12, serve-first suite order): the
    # serving section now opens the suite, so without this its walls
    # would include one-time whole-stage-codegen compilation and
    # broadcast-machinery init that r11's late-section placement got
    # for free from 290 preceding queries (three keeper runs measured
    # the serving canary 1.7-2.6x the late-suite canary on a quiet
    # box). One throwaway build+serve on a 200-doc slice JITs those
    # code paths; it is excluded from every metric, and the section
    # canary still reports any REAL box contention. SPARK_GRAFT_ONLY
    # subset runs skip the serving section, so they skip this warm-up
    # too (ADVICE r12) — no index-build tax on quick single-query loops.
    if not only:
        import shutil as _sh
        import tempfile as _tf

        from semantik_spark.operators import serving as _srv
        from semantik_spark.oracles import SEARCH_QUERIES as _SQ
        _wdir = _tf.mkdtemp(prefix="bench_warm_idx_")
        try:
            _wdocs = spark.read.parquet(
                f"{sf_dir}/documents.parquet").limit(200)
            _wq = spark.createDataFrame(_SQ, ["query_id", "query_text"])
            _srv.build_index(_wdocs, _wdir)
            _srv.bm25_serve(spark, _wdir, _wq, k=5).count()
            _srv.dense_serve(spark, _wdir, _wq, k=5).count()
            _srv.hybrid_serve(spark, _wdir, _wq, k=5, search_k=10).count()
        finally:
            _sh.rmtree(_wdir, ignore_errors=True)
        from semantik_spark.functions.caching import release_all as _rel
        _rel()
        spark.catalog.clearCache()

    med: dict[str, float] = {}
    lo: dict[str, float] = {}
    hi: dict[str, float] = {}
    counters: dict[str, dict] = {}
    # Per-SECTION noise canaries (VERDICT r11 item 2): one front-of-
    # suite canary cannot vouch for a section that runs 300+ queries
    # later — r11's driver run moved serve walls +34% with byte-
    # identical counters while the front canary IMPROVED. Every suite
    # section now opens with its own canary rep, recorded here and in
    # BENCH_DETAIL, and tools/compare_bench.py normalizes wall movers
    # by the query's OWN section canary before flagging.
    sections: dict[str, dict] = {}

    def _open_section(name: str, context: str) -> None:
        # `context` names the MEASUREMENT CONTEXT the section's counters
        # are captured in (VERDICT r12 item 3): the same code measures
        # different counters cold vs warm (index_build: 39 jobs/1.8 MB
        # cold-session vs 21/12 KB post-suite — FileIndex listing and
        # broadcast-materialization jobs, AQE decisions differ with
        # cache state). Recording it per section lets compare_bench
        # flag a counter mover whose context changed (a suite reorder)
        # as a re-baseline instead of a plan change — and vice versa.
        c = round(_bench_canary(spark, sf_dir), 3)
        sections[name] = {"canary_sec": c, "queries": [], "context": context}
        print(f"# section {name}: canary {c:.3f}s [{context}]",
              file=sys.stderr)

    pc = PlanCounters(spark)
    canary_start = _bench_canary(spark, sf_dir)
    bench_list = [q for q in BENCH_QUERIES if not only or q in only]

    # The serve block runs FIRST (the BASELINE.md latency gates deserve
    # the quietest slot in the suite, right after warm-up — VERDICT r11
    # item 2's alternative, adopted in addition to section canaries),
    # then the skew stress, then the main registry sweep in 50-query
    # sections.
    if not only:
        _open_section("serving", "cold-session (serve-first, after the"
                      " throwaway JIT warm-up; caches cleared at close)")
        before = set(med)
        _bench_serving(spark, sf_dir, med, lo, hi, pc, counters)
        sections["serving"]["queries"] = sorted(set(med) - before)
        _open_section("skew", "warm-session position 2, hermetic"
                      " (post-serving; caches cleared at close)")
        before = set(med)
        _bench_skew(spark, sf_dir, med, lo, hi, pc, counters)
        sections["skew"]["queries"] = sorted(set(med) - before)
        # section hermeticity: the serve/skew builds persist large
        # blocks (indexes, LSH signatures) whose lazy eviction would
        # otherwise bleed GC pressure into main_00's walls — drop them
        # at the boundary so each section's numbers depend on its own
        # work, not its predecessor's storage
        from semantik_spark.functions.caching import release_all
        release_all()
        spark.catalog.clearCache()

    section_size = 50
    cur_section = ""
    for qi, name in enumerate(bench_list):
        if qi % section_size == 0:
            cur_section = f"main_{qi // section_size:02d}"
            _open_section(cur_section,
                          f"warm-session, registry sweep slot"
                          f" {qi // section_size} (after hermetic"
                          f" serve/skew sections)")
        times = []
        n = 0
        reps = 1 if name in ONE_REP_QUERIES else REPS
        for rep in range(reps):
            if rep == 0:
                snap = pc.snapshot()
            dt, n = _timed(lambda: qs[name](spark, sf_dir).count())
            if rep == 0:
                c = pc.delta(snap)
                if c:
                    counters[name] = c
            times.append(dt)
            if rep == 0 and FAST_SINGLE_REP_SEC > 0 and dt < FAST_SINGLE_REP_SEC:
                break  # stable sub-second query: one rep is enough
        c = counters.get(name, {})
        cx = (f"  [{c['jobs']} jobs, {c['shuffle_write_bytes'] / 1e6:.1f} MB shuffle]"
              if c else "")
        _record(name, times, med, lo, hi, extra=f"  ({n} rows){cx}")
        sections[cur_section]["queries"].append(name)

    # r14 noop-sink series (see NOOP_SINK_QUERIES): one rep each, after
    # the count series so it cannot perturb the comparable medians
    noop_list = [q for q in NOOP_SINK_QUERIES if not only or q in only]
    if noop_list:
        _open_section("noop", "warm-session, post-suite noop-sink series"
                      " (single rep; full-column materialization)")
        for name in noop_list:
            snap = pc.snapshot()
            spark.sparkContext.setJobDescription(f"noop:{name}")
            dt, _ = _timed(lambda: (
                qs[name](spark, sf_dir).write.format("noop")
                .mode("overwrite").save(), 0)[1])
            spark.sparkContext.setJobDescription(None)
            c = pc.delta(snap)
            if c:
                counters[f"{name}_noop"] = c
            _record(f"{name}_noop", [dt], med, lo, hi)
            sections["noop"]["queries"].append(f"{name}_noop")

    # canary measured at both ends: the mean tracks the round's overall
    # contention level, the delta shows drift within the run
    canary_end = _bench_canary(spark, sf_dir)
    canary = round((canary_start + canary_end) / 2, 3)
    med["noise_canary"] = canary
    lo["noise_canary"] = round(min(canary_start, canary_end), 3)
    hi["noise_canary"] = round(max(canary_start, canary_end), 3)
    print(f"# noise_canary: {canary:.3f}s (start {canary_start:.3f}s, "
          f"end {canary_end:.3f}s)", file=sys.stderr)

    excluded = ONE_REP_QUERIES | {"noise_canary"} \
        | {k for k in med if k.endswith("_noop")}
    total = round(sum(v for k, v in med.items() if k not in excluded), 3)
    line = {
        "metric": "suite_wall_sec_median_of_%d" % REPS,
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in med.items()},
        "replays": sorted(k for k in med if k in ONE_REP_QUERIES),
        "noop_series": sorted(k for k in med if k.endswith("_noop")),
        "reps": REPS,
        "sf": sf,
        "section_canaries": {k: v["canary_sec"] for k, v in sections.items()},
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump({**line, "queries": med, "queries_min": lo,
                   "queries_max": hi, "queries_counters": counters,
                   "sections": sections}, f, indent=1)
    print(f"# full spread detail written to {detail_path}", file=sys.stderr)
    # The full per-query line overflowed the driver's tail window three
    # rounds running (VERDICT r5 item 3: ~105 medians, clipped from the
    # front -> "parsed": null). Print it FIRST, then end stdout with a
    # genuinely short (<300 byte) summary line carrying the suite total
    # and the 4 BASELINE.md serve-latency gates in ms/query — the full
    # medians live in BENCH_DETAIL.json / BENCH_LOCAL_rN.json.
    print(json.dumps(line))
    from semantik_spark.oracles import SEARCH_QUERIES

    nq = len(SEARCH_QUERIES)
    short = {
        "metric": "suite_wall_sec_median_of_%d" % REPS,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "reps": REPS,
        "queries": {
            "dense_ms_q": round(med.get("dense_serve", 0.0) * 1000 / nq, 1),
            "hybrid_ms_q": round(med.get("hybrid_serve", 0.0) * 1000 / nq, 1),
            "ivf_ms_q": round(med.get("dense_ivf_serve", 0.0) * 1000 / nq, 1),
            "rerank_ms_q": round(med.get("rerank_search", 0.0) * 1000 / nq, 1),
            "noise_canary": med.get("noise_canary", 0.0),
            "serve_canary": sections.get("serving", {}).get("canary_sec", 0.0),
        },
    }
    print(json.dumps(short))


if __name__ == "__main__":
    main()

"""One benchmark run in one process: set up, warm up, run the workload's
closed loop (one client, no think time) for the given seconds, check
every result, and write the metrics as JSON.

Started by run.py, which pins the environment, samples memory and
cleans up; run it through run.py, not directly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import Inputs
from run import MODES
from stats import bytes_per_input_byte, recall_at_k
from tracing import Tracer

K = 10
NPROBE = 4
N_CENTROIDS = 16
BATCH_DOCS = 1


class Run:
    """State of one run: session, index, inputs, samples and failures."""

    def __init__(self, args) -> None:
        self.args = args
        self.data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
        self.index = os.path.join(args.workdir, "index")
        t0 = time.perf_counter()
        from semantik_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        from pyspark.sql import functions as F
        from semantik_spark.functions import caching
        from semantik_spark.operators import rerank, serving

        self.F, self.caching, self.rerank, self.serving = F, caching, rerank, serving
        self.tracer = Tracer(self.spark, args.trace == 1)
        docs_t = pq.read_table(os.path.join(self.data, "documents.parquet"),
                               columns=["doc_id", "text"])
        emb_t = pq.read_table(os.path.join(self.data, "embeddings.parquet"),
                              columns=["vec_id", "embedding"])
        self.base_texts = docs_t.column("text").to_pylist()
        self.base_ids = set(docs_t.column("doc_id").to_pylist())
        self.vec_ids = np.array(emb_t.column("vec_id").to_pylist(), dtype=np.int64)
        self.vectors = np.array(emb_t.column("embedding").to_pylist(), dtype=np.float64)
        self.inputs = Inputs(args.seed, self.base_texts, self.vectors)
        self.docs = self.spark.read.parquet(os.path.join(self.data, "documents.parquet")) \
            .select("doc_id", "text")
        self.live: dict[int, str] = {}  # appended docs currently in the index
        self.deleted: set[int] = set()
        self.samples: dict[str, list[float]] = {}
        self.spans: dict[str, list[dict]] = {}
        self.rdd_scans: dict[str, list[int]] = {}
        self.release_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.queries_answered = 0
        self.search_s = 0.0
        self._qid = 0
        self.recalls: list[float] = []
        self.first_batch: tuple[list[int], list[str]] = ([], [])

    # -- inputs -----------------------------------------------------------
    def text_queries(self, ids: list[int], texts: list[str]):
        pdf = pd.DataFrame({"query_id": np.array(ids, dtype=np.int64), "query_text": texts})
        return self.spark.createDataFrame(pdf)

    def fresh_text_queries(self, n: int):
        ids = list(range(self._qid, self._qid + n))
        self._qid += n
        return self.text_queries(ids, self.inputs.query_texts(n)), ids

    def fresh_vector_queries(self, n: int):
        ids = list(range(self._qid, self._qid + n))
        self._qid += n
        pdf = pd.DataFrame({"query_id": np.array(ids, dtype=np.int64),
                            "query_vec": self.inputs.query_vectors(n)})
        return self.spark.createDataFrame(pdf), ids, pdf["query_vec"].tolist()

    # -- bookkeeping ------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    def _span(self, name: str, request: str, start: float, end: float, mark: int,
              timed: bool) -> dict:
        span = self.tracer.record(name, request, start, end, mark)
        if timed:
            self.spans.setdefault(name, []).append(span)
        return span

    # -- setup ------------------------------------------------------------
    def build(self, name: str) -> None:
        """One index build, recorded as a set-up span."""
        serving = self.serving
        mark = self.tracer.watermark()
        self.spark.sparkContext.setJobGroup(f"setup:{name}", name)
        start = time.time()
        if name == "build_index":
            serving.build_index(self.docs, self.index)
        elif name == "build_dense_ivf":
            serving.build_dense_ivf(self.docs, self.index, n_centroids=N_CENTROIDS)
        else:
            emb = self.spark.read.parquet(os.path.join(self.data, "embeddings.parquet")).select(
                "vec_id", self.F.col("embedding").cast("array<double>").alias("embedding"))
            serving.write_ivfpq_index(emb, self.index, dim=64, n_centroids=N_CENTROIDS, m=8,
                                      pq_centroids=16, id_col="vec_id")
        self._span(name, "setup", start, time.time(), mark, timed=True)
        self.caching.release_all()

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.build("build_index")
        self.build("build_dense_ivf")
        if self.args.workload == "interactive":  # maintain never reads IVFPQ
            self.build("write_ivfpq_index")
        return self.session_s + time.perf_counter() - t0

    # -- reads ------------------------------------------------------------
    def read(self, mode: str, qdf, qids: list[int], request: str, timed: bool,
             known: set[int] | None = None):
        """One search call; returns {query_id: [ids by rank]} or None."""
        serving, rerank = self.serving, self.rerank
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(f"{request}:{mode}", mode)
        mark = self.tracer.watermark()
        try:
            start = time.time()
            if mode == "dense":
                df = serving.dense_serve(self.spark, self.index, qdf, k=K)
            elif mode == "ivf":
                df = serving.dense_serve_ivf(self.spark, self.index, qdf, k=K, nprobe=NPROBE)
            elif mode == "hybrid":
                df = serving.hybrid_serve(self.spark, self.index, qdf, k=K)
            elif mode == "rerank":
                first = serving.hybrid_serve(self.spark, self.index, qdf,
                                             k=rerank.candidate_k(K))
                df = rerank.rerank(first, qdf, self.docs, k=K)
            else:
                df = serving.ivfpq_serve(self.spark, self.index, qdf, k=K,
                                         nprobe=NPROBE, rescore_k=2 * K)
            planned = time.time()
            rows = df.collect()
            executed = time.time()
            self.caching.release_all()
            end = time.time()
        except Exception as exc:  # a failed call is a failed operation
            self.fail(f"{request}:{mode} raised {type(exc).__name__}: {exc}")
            return None
        span = self._span(mode, request, start, end, mark, timed)
        span["plan_s"] = planned - start
        span["exec_s"] = executed - planned
        if timed:
            self.samples.setdefault(mode, []).append((end - start) * 1000.0)
            self.release_ms.append((end - executed) * 1000.0)
            self.queries_answered += len(qids)
            self.search_s += end - start
            if self.tracer.enabled:
                plan = df._jdf.queryExecution().analyzed().toString()
                self.rdd_scans.setdefault(mode, []).append(plan.count("LogicalRDD ["))
        key = "vec_id" if mode == "ivfpq" else "doc_id"
        if known is None:
            known = set(self.vec_ids.tolist()) if mode == "ivfpq" else self.live_ids()
        return self.check_topk(mode, request, rows, key, qids, known)

    def live_ids(self) -> set[int]:
        return self.base_ids | set(self.live)

    def check_topk(self, mode, request, rows, key, qids, known):
        """Every query gets min(k, eligible) = k rows, ranks 1..k, known ids."""
        by_q: dict[int, list] = {q: [] for q in qids}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r[key]))
        ok = True
        for q, hits in by_q.items():
            hits.sort()
            if [rk for rk, _ in hits] != list(range(1, K + 1)) \
                    or not all(i in known for _, i in hits):
                ok = False
        if not ok:
            self.fail(f"{request}:{mode} returned a malformed top-{K} or unknown ids")
            return None
        return {q: [i for _, i in hits] for q, hits in by_q.items()}

    # -- writes -----------------------------------------------------------
    def append(self, ids: list[int], texts: list[str], request: str, timed: bool) -> bool:
        serving = self.serving
        self.attempted += 1
        batch = self.spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.array(ids, dtype=np.int64), "text": texts}))
        calls = (
            ("merge_sparse_append", lambda: serving.merge_sparse_append(batch, self.index)),
            ("merge_dense_append", lambda: serving.merge_dense_append(batch, self.index)),
            ("ivf_append", lambda: serving.ivf_append(self.spark, self.index, batch)),
        )
        took = 0.0  # the three writers' wall time, without tracing bookkeeping
        try:
            for name, call in calls:
                self.spark.sparkContext.setJobGroup(f"{request}:{name}", name)
                mark = self.tracer.watermark()
                start = time.time()
                call()
                end = time.time()
                took += end - start
                self._span(name, request, start, end, mark, timed)
            start = time.time()
            self.caching.release_all()
            took += time.time() - start
        except Exception as exc:
            self.fail(f"{request}:append raised {type(exc).__name__}: {exc}")
            return False
        if timed:
            self.samples.setdefault("append", []).append(took * 1000.0)
        self.live.update(zip(ids, texts))
        return True

    def delete(self, ids: list[int], request: str, timed: bool) -> bool:
        self.attempted += 1
        gone = self.spark.createDataFrame(pd.DataFrame(
            {"doc_id": np.array(ids, dtype=np.int64), "text": [self.live[i] for i in ids]}))
        self.spark.sparkContext.setJobGroup(f"{request}:delete_from_index", "delete")
        mark = self.tracer.watermark()
        start = time.time()
        try:
            self.serving.delete_from_index(self.spark, self.index, gone)
            self.caching.release_all()
        except Exception as exc:
            self.fail(f"{request}:delete raised {type(exc).__name__}: {exc}")
            return False
        end = time.time()
        self._span("delete_from_index", request, start, end, mark, timed)
        if timed:
            self.samples.setdefault("delete", []).append((end - start) * 1000.0)
        for i in ids:
            del self.live[i]
        self.deleted.update(ids)
        return True

    # -- checks that need a search ----------------------------------------
    def searched(self, ids, texts, request: str, timed: bool) -> dict:
        """Search the given texts in the three text modes of the write
        path (dense, ivf, hybrid); returns {mode: results}. ivf's recall
        against dense's exact top-k is recorded on the way."""
        qdf = self.text_queries(ids, texts)
        got = {m: self.read(m, qdf, ids, request, timed, known=self.live_ids())
               for m in ("dense", "ivf", "hybrid")}
        if got["dense"] is not None and got["ivf"] is not None:
            self.recalls += [recall_at_k(got["ivf"][q], got["dense"][q], K) for q in ids]
        return got

    def check_findable(self, ids, texts, request: str, timed: bool) -> None:
        """Each appended doc is rank 1 for its own text in every mode."""
        for mode, got in self.searched(ids, texts, request, timed).items():
            if got is not None and any(got[i][0] != i for i in ids):
                self.fail(f"{request}:{mode} did not rank an appended doc first for its text")

    def check_erased(self, ids, texts, request: str, timed: bool) -> None:
        """No deleted id comes back, even for the deleted docs' own texts."""
        for mode, got in self.searched(ids, texts, request, timed).items():
            if got is not None and any(self.deleted.intersection(h) for h in got.values()):
                self.fail(f"{request}:{mode} returned a deleted doc")

    # -- workloads ---------------------------------------------------------
    def exact_vectors(self, v: list[float]) -> list[int]:
        """Exact cosine top-k over the ivfpq corpus; ties by id."""
        v = np.asarray(v)
        cos = self.vectors @ v / (np.linalg.norm(self.vectors, axis=1) * np.linalg.norm(v))
        return self.vec_ids[np.lexsort((self.vec_ids, -cos))[:K]].tolist()

    def read_round(self, request: str, timed: bool, modes=MODES) -> None:
        """One fresh query through each of ``modes``, in order."""
        qdf, qids = self.fresh_text_queries(1)
        vdf, vids, vecs = self.fresh_vector_queries(1)
        got = {}
        for mode in modes:
            if mode == "ivfpq":
                got[mode] = self.read(mode, vdf, vids, request, timed)
            else:
                got[mode] = self.read(mode, qdf, qids, request, timed)
        if got.get("dense") is not None and got.get("ivf") is not None:
            self.recalls.append(recall_at_k(got["ivf"][qids[0]], got["dense"][qids[0]], K))
        if got.get("ivfpq") is not None:
            self.recalls.append(recall_at_k(got["ivfpq"][vids[0]],
                                            self.exact_vectors(vecs[0]), K))

    def interactive(self, deadline: float) -> None:
        """Single-query searches on a static index. Every round sends one
        query through dense, ivf and hybrid, then alternately through
        rerank or ivfpq: the two slowest modes run every other round, so
        the three modes both workloads share get twice the samples."""
        n = 0
        while time.perf_counter() < deadline:
            self.read_round(f"r{n}", timed=True,
                            modes=("dense", "ivf", "hybrid", ("rerank", "ivfpq")[n % 2]))
            n += 1

    def maintain(self, deadline: float) -> None:
        """Alternately append a batch and find it, then delete the previous
        batch and check it is gone; the searches after each write are the
        reads measured. The deadline is checked after each write and its
        searches, so the timed phase ends less than one of them late."""
        prev_ids, prev_texts = self.first_batch
        n = 1
        while time.perf_counter() < deadline:
            ids, texts = self.inputs.batch(BATCH_DOCS)
            if self.append(ids, texts, f"c{n}", timed=True):
                self.check_findable(ids, texts, f"c{n}", timed=True)
            if time.perf_counter() >= deadline:
                break
            if self.delete(prev_ids, f"c{n}", timed=True):
                self.check_erased(prev_ids, prev_texts, f"c{n}", timed=True)
            prev_ids, prev_texts = ids, texts
            n += 1

    def warm_up(self) -> None:
        """Untimed. interactive: one query through dense, ivf, ivfpq and
        rerank (whose first stage is hybrid_serve). maintain: the first
        batch's append and searches; its delete is the first timed write."""
        if self.args.workload == "maintain":
            self.first_batch = self.inputs.batch(BATCH_DOCS)
            if self.append(*self.first_batch, "c0", timed=False):
                self.check_findable(*self.first_batch, "c0", timed=False)
            return
        self.read_round("warmup", timed=False, modes=("dense", "ivf", "ivfpq", "rerank"))

    def cover_other_layers(self) -> None:
        """Traced runs only, after the timed phase: one call into each
        layer the workload's loop never reaches, so that every per-layer
        metric is measured in every workload. interactive: one append and
        one delete; maintain: the IVFPQ build, one rerank and one ivfpq
        query."""
        if self.args.workload == "interactive":
            ids, texts = self.inputs.batch(BATCH_DOCS)
            if self.append(ids, texts, "cover", timed=True):
                self.check_findable(ids, texts, "cover", timed=False)
                if self.delete(ids, "cover", timed=True):
                    self.check_erased(ids, texts, "cover", timed=False)
        else:
            self.build("write_ivfpq_index")
            self.read_round("cover", timed=True, modes=("rerank", "ivfpq"))

    def index_size(self) -> tuple[int, int]:
        files = size = 0
        for dirpath, _, names in os.walk(self.index):
            for name in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
        return files, size


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("interactive", "maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t_start = time.perf_counter()
    run = Run(args)
    setup_s = run.setup()
    t_warm = time.perf_counter()
    run.warm_up()
    warmup_s = time.perf_counter() - t_warm
    print(f"perfbench: session {run.session_s:.1f} s, setup {setup_s:.1f} s, "
          f"warm-up {warmup_s:.1f} s", file=sys.stderr)
    gc0 = run.tracer.gc_ms()
    deadline = time.perf_counter() + args.seconds
    getattr(run, args.workload)(deadline)
    gc_ms = run.tracer.gc_ms() - gc0
    print(f"perfbench: timed phase {time.perf_counter() - deadline + args.seconds:.1f} s, "
          + ", ".join(f"{k} {len(v)}" for k, v in run.samples.items()), file=sys.stderr)
    files, size = run.index_size()
    live_texts = run.base_texts + list(run.live.values())
    out = {
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures[:20],
        "session_s": run.session_s,
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "recall_at_10": float(np.mean(run.recalls)) if run.recalls else 0.0,
        "recall_n": len(run.recalls),
        "queries_answered": run.queries_answered,
        "search_s": run.search_s,
        "samples": {k: list(v) for k, v in run.samples.items()},
        "release_ms": run.release_ms,
        "index_files": files,
        "index_bytes": size,
        "index_bytes_per_input_byte": bytes_per_input_byte(
            size, live_texts, len(run.vectors), run.vectors.shape[1]),
        "spans": {name: spans for name, spans in run.spans.items()},
        "rdd_scans": run.rdd_scans,
        "gc_ms": gc_ms,
        "heap_peak_mb": run.tracer.heap_peak_mb(),
        "trace_bookkeeping_s": run.tracer.bookkeeping_s,
    }
    if run.tracer.enabled:
        run.cover_other_layers()
        out.update(
            failed=run.failed, attempted=run.attempted, failures=run.failures[:20],
            layer_samples=run.samples, release_ms=run.release_ms, rdd_scans=run.rdd_scans,
            spans={name: spans for name, spans in run.spans.items()},
            heap_peak_mb=run.tracer.heap_peak_mb(),
            trace_bookkeeping_s=run.tracer.bookkeeping_s)
        run.tracer.write(os.path.join(args.workdir, "spans.jsonl"))
    run.spark.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    print(f"perfbench: workload done in {time.perf_counter() - t_start:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    main()

"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout (the directory holding
``semantik_spark/``). It pins the environment, starts workload.py in its
own session, samples the resident memory of that process tree (Python
driver, JVM, Python workers), stops every process it started, removes
its scratch directory and prints one summary line per metric followed
by one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (the Spark UI's REST API is turned on
for the traced run only).

Each run also leaves its numbers in ``.perfbench_results/`` (and the
traced run its spans), so a traced run can print its overhead against
the untraced run of the same workload and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from stats import median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive", "maintain")
MODES = ("dense", "ivf", "hybrid", "rerank", "ivfpq")
BUILDERS = ("build_index", "build_dense_ivf", "write_ivfpq_index")
WRITERS = ("merge_sparse_append", "merge_dense_append", "ivf_append", "delete_from_index")
TIME_LIMIT_S = 170.0

#: metrics every workload measures: each run reports all of them
END_TO_END = (
    ("setup_s", "s"), ("dense_p50_ms", "ms"), ("ivf_p50_ms", "ms"),
    ("hybrid_p50_ms", "ms"), ("queries_per_s", "1/s"), ("recall_at_10", "frac"),
    ("index_bytes_per_input_byte", "ratio"), ("mem_p50_mb", "MB"),
)
PER_LAYER = (
    [("session.start_s", "s")]
    + [(f"build.{w}.{f}", u) for w in BUILDERS
       for f, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("executor_s", "s"), ("driver_gap_s", "s"), ("shuffle_mb", "MB"))]
    + [(f"serve.{m}.{f}", u) for m in MODES
       for f, u in (("p50_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                    ("tasks", "count"), ("driver_gap_ms", "ms"), ("rdd_scans", "count"),
                    ("executor_ms", "ms"), ("shuffle_mb", "MB"), ("p90_ms", "ms"))]
    + [("serve.rerank.first_stage_ms", "ms"), ("serve.rerank.rerank_ms", "ms")]
    + [("maint.append.p50_ms", "ms")]
    + [(f"maint.{w}.{f}", u) for w in WRITERS
       for f, u in (("ms", "ms"), ("jobs", "count"), ("driver_gap_ms", "ms"))]
    + [("index.files", "count"), ("index.mb", "MB"), ("jvm.gc_ms", "ms"),
       ("mem.peak_mb", "MB"), ("jvm.heap_peak_mb", "MB"), ("caching.release_ms", "ms"),
       ("warmup_s", "s"),
       ("trace.overhead_ms", "ms")]
)


def _session_pids(sid: int) -> list[int]:
    """Processes whose session id is ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: shared pages count once across the
    tree, so the JVM's short-lived fork before it execs a Python worker
    does not count the JVM twice (plain RSS would)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; return
    only when none is left."""
    for sig, wait_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if _session_pids(sid):
        raise RuntimeError("benchmark processes survived SIGKILL")


def _env(workdir: str, trace: int) -> dict:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # far below the 16g default, which can exceed a small box's RAM
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_UI="1" if trace else "0",
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # keep the JVM's temp files in the run's scratch; without perf data
        # it writes no /tmp/hsperfdata_<user> file either
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _p50(samples: list[float]) -> tuple[float, int]:
    return median(samples), len(samples)


def end_to_end(raw: dict, mem: list[int]) -> dict:
    """name -> (value, sample count)."""
    s = raw["samples"]
    out = {"setup_s": (raw["setup_s"], 1)}
    for m in ("dense", "ivf", "hybrid"):
        if s.get(m):
            out[f"{m}_p50_ms"] = _p50(s[m])
    if raw["search_s"] > 0:
        out["queries_per_s"] = (raw["queries_answered"] / raw["search_s"],
                                raw["queries_answered"])
    out["recall_at_10"] = (raw["recall_at_10"], raw["recall_n"])
    out["index_bytes_per_input_byte"] = (raw["index_bytes_per_input_byte"], 1)
    out["mem_p50_mb"] = (median(mem) / 1e6, len(mem))
    return out


def per_layer(raw: dict, mem: list[int]) -> dict:
    """name -> (value, sample count). Medians over the timed calls; a
    layer the workload never calls reads 0 with 0 samples."""
    spans = raw["spans"]
    out = {"session.start_s": (raw["session_s"], 1)}

    def med(name: str, field: str, scale: float = 1.0):
        vals = [sp[field] * scale for sp in spans.get(name, []) if field in sp]
        return (median(vals), len(vals)) if vals else (0.0, 0)

    for w in BUILDERS:
        for f in ("jobs", "tasks", "executor_s", "driver_gap_s", "shuffle_mb"):
            out[f"build.{w}.{f}"] = med(w, f)
        sp = spans.get(w, [])
        out[f"build.{w}.s"] = (sp[0]["end"] - sp[0]["start"], 1) if sp else (0.0, 0)
    for m in MODES:
        out[f"serve.{m}.plan_ms"] = med(m, "plan_s", 1000.0)
        out[f"serve.{m}.exec_ms"] = med(m, "exec_s", 1000.0)
        out[f"serve.{m}.jobs"] = med(m, "jobs")
        out[f"serve.{m}.tasks"] = med(m, "tasks")
        out[f"serve.{m}.driver_gap_ms"] = med(m, "driver_gap_s", 1000.0)
        out[f"serve.{m}.executor_ms"] = med(m, "executor_s", 1000.0)
        out[f"serve.{m}.shuffle_mb"] = med(m, "shuffle_mb")
        scans = raw["rdd_scans"].get(m, [])
        out[f"serve.{m}.rdd_scans"] = (median(scans), len(scans)) if scans else (0.0, 0)
        lat = raw["layer_samples"].get(m, [])
        out[f"serve.{m}.p50_ms"] = _p50(lat) if lat else (0.0, 0)
        out[f"serve.{m}.p90_ms"] = percentile(lat, 90) if lat else (0.0, 0)
    # the candidate stage runs inside rerank.rerank (its eager checkpoint),
    # so it is the time until the reranked frame is returned; the rerank
    # stage itself (hydrate, score, top-k) runs in the final collect
    out["serve.rerank.first_stage_ms"] = out["serve.rerank.plan_ms"]
    out["serve.rerank.rerank_ms"] = out["serve.rerank.exec_ms"]
    app = raw["layer_samples"].get("append", [])
    out["maint.append.p50_ms"] = _p50(app) if app else (0.0, 0)
    for w in WRITERS:
        durations = [(sp["end"] - sp["start"]) * 1000.0 for sp in spans.get(w, [])]
        out[f"maint.{w}.ms"] = (median(durations), len(durations)) if durations else (0.0, 0)
        out[f"maint.{w}.jobs"] = med(w, "jobs")
        out[f"maint.{w}.driver_gap_ms"] = med(w, "driver_gap_s", 1000.0)
    out["index.files"] = (raw["index_files"], 1)
    out["index.mb"] = (raw["index_bytes"] / 1e6, 1)
    out["mem.peak_mb"] = (max(mem) / 1e6, len(mem))
    out["jvm.gc_ms"] = (raw["gc_ms"], 1)
    out["jvm.heap_peak_mb"] = (raw["heap_peak_mb"], 1)
    rel = raw["release_ms"]
    out["caching.release_ms"] = (median(rel), len(rel)) if rel else (0.0, 0)
    out["warmup_s"] = (raw["warmup_s"], 1)
    calls = sum(len(v) for v in spans.values()) or 1
    out["trace.overhead_ms"] = (raw["trace_bookkeeping_s"] * 1000.0 / calls, calls)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "semantik_spark", "__init__.py")):
        print(f"perfbench: no semantik_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    tag = f"{args.workload}-seed{args.seed}"
    raw_path = os.path.join(workdir, "raw.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", workdir, "--out", raw_path]
    mem = []  # memory of the process tree, sampled every 0.2 s
    try:
        child = subprocess.Popen(cmd, cwd=workdir, env=_env(workdir, args.trace),
                                 stdout=sys.stderr, start_new_session=True)
        try:
            while child.poll() is None:
                if time.monotonic() - t_start > TIME_LIMIT_S:
                    print("perfbench: run exceeded its time limit", file=sys.stderr)
                    return 1
                pss = _pss_bytes(_session_pids(child.pid))
                if pss:
                    mem.append(pss)
                time.sleep(0.2)
        finally:
            _stop_session(child.pid)
            child.wait()
        print(f"perfbench: processes stopped after {time.monotonic() - t_start:.1f} s",
              file=sys.stderr)
        if child.returncode != 0:
            print(f"perfbench: workload exited with {child.returncode}", file=sys.stderr)
            return 1
        with open(raw_path) as fh:
            raw = json.load(fh)
        if args.trace:
            shutil.copy(os.path.join(workdir, "spans.jsonl"),
                        os.path.join(results, f"{tag}-spans.jsonl"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    e2e = end_to_end(raw, mem)
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as fh:
        json.dump({"metrics": {k: v[0] for k, v in e2e.items()},
                   "samples": raw["samples"], "setup_s": raw["setup_s"]}, fh)
    wanted, computed = (PER_LAYER, per_layer(raw, mem)) if args.trace else (END_TO_END, e2e)
    missing = [name for name, _ in wanted if name not in computed]
    if missing:
        print(f"perfbench: no samples for {', '.join(missing)}", file=sys.stderr)
        return 1
    for name, unit in wanted:
        value, n = computed[name]
        print(f"{args.workload} {name} {value:.6g} {unit} n={n}")
    if args.trace:
        untraced = os.path.join(results, f"{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            for name, _ in END_TO_END:
                if name in base and name in e2e and base[name]:
                    delta = e2e[name][0] - base[name]
                    print(f"{args.workload} tracing overhead {name} {delta:+.6g} "
                          f"({100.0 * delta / base[name]:+.1f}%)")
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {name: {"value": computed[name][0], "unit": unit}
                    for name, unit in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Local stand-in for the driver's correctness gate.

Runs every entry in __spark_entry__.queries() at a given SF and compares
against oracle_sql() via DuckDB: row count, column names, and exact
sorted-row equality (with a small float report). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from semantik_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class ComplexColumnError(Exception):
    """A top-level ARRAY/MAP/STRUCT column reached the canonicalizer.

    The driver's compare sorts rows by every column and dies on
    unhashable values (``TypeError: unhashable type: 'list'`` —
    jl_projection, CORRECTNESS_r06). This checker used to mask that by
    tuple-izing lists; now it fails the query the same way the driver
    would, so flatten-arrays violations never reach a round boundary.
    Flatten with posexplode (see q_sparse_vectors / q_jl_projection).
    """


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            bad = df[c].apply(
                lambda v: (isinstance(v, (list, tuple, dict, set))
                           or (hasattr(v, "tolist")
                               and not isinstance(v, (str, bytes))))
            )
            if bad.any():
                raise ComplexColumnError(
                    f"column {c!r} holds list/map/struct values — the "
                    "driver canonicalizer cannot sort these; posexplode "
                    "to scalar rows (flatten-arrays convention)"
                )
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"SCHEMA cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    if len(sdf) != len(odf):
        problems.append(f"ROWS spark={len(sdf)} oracle={len(odf)}")
    try:
        s, o = normalize(sdf), normalize(odf)
    except ComplexColumnError as e:
        return f"COMPLEX COLUMN (driver would crash): {e}"
    if len(s) == len(o):
        for c in s.columns:
            sc, oc = s[c], o[c]
            # the driver's value-hash is dtype-sensitive: an int64 Spark
            # column vs a float64 oracle column (e.g. DuckDB HUGEINT sums)
            # — or an int32 vs int64 width mismatch — can hash-mismatch
            # even when every value is equal. Flag any exact-dtype drift
            # on numeric columns, but still run the tolerant value
            # compare below so the report says whether the discrepancy
            # is dtype-only (values equal) or a real value divergence.
            if (sc.dtype != oc.dtype
                    and (pd.api.types.is_numeric_dtype(sc)
                         or pd.api.types.is_numeric_dtype(oc))):
                problems.append(
                    f"col {c}: DTYPE differs spark={sc.dtype} oracle={oc.dtype}"
                )
            try:
                if pd.api.types.is_float_dtype(sc) or pd.api.types.is_float_dtype(oc):
                    a = pd.to_numeric(sc, errors="coerce")
                    b = pd.to_numeric(oc, errors="coerce")
                    diff = (a - b).abs().max()
                    if not ((a.isna() == b.isna()).all()):
                        problems.append(f"col {c}: NULL pattern differs")
                    elif diff and diff > 0:
                        problems.append(f"col {c}: max |diff|={diff}")
                else:
                    eq = (sc.astype(str).fillna("\0") == oc.astype(str).fillna("\0")).all()
                    if not eq:
                        bad = (sc.astype(str) != oc.astype(str)).idxmax()
                        problems.append(f"col {c}: mismatch e.g. row {bad}: {sc[bad]!r} vs {oc[bad]!r}")
            except Exception as e:
                problems.append(f"col {c}: compare error {e}")
    return "; ".join(problems) if problems else ""


def _log_run(sf_dir: str, results: dict[str, str], n_pass: int, n_fail: int) -> None:
    """Append one JSON line per run to ORACLE_CHECKS.jsonl.

    This is the measurement log the rotation contract points at (README
    "Correctness window rotation"): past-boundary re-checks are auditable
    here rather than in commit messages.
    """
    def git(*args: str) -> str:
        return subprocess.run(["git", "-C", REPO, *args], capture_output=True,
                              text=True, timeout=10).stdout.strip()

    # an uncommitted tree is recorded as <head>+dirty: the evidence must
    # name the code that produced it, not the commit it started from
    try:
        head = git("rev-parse", "--short", "HEAD") or None
        if head and git("status", "--porcelain"):
            head += "+dirty"
    except Exception:
        head = None
    line = {
        "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "sf_dir": sf_dir,
        "git_head": head,
        "n_pass": n_pass,
        "n_fail": n_fail,
        "results": results,
    }
    path = os.path.join(REPO, "ORACLE_CHECKS.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps(line, sort_keys=True) + "\n")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1].startswith("/") else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if not a.startswith("/")]
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oqs = entrymod.oracle_sql()
    n_pass = n_fail = 0
    results: dict[str, str] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=8)
            n_fail += 1
            results[name] = "FAIL: SPARK ERROR"
            continue
        try:
            odf = con.sql(oqs[name]).df()
        except Exception as e:
            print(f"FAIL {name}: ORACLE ERROR {str(e)[:300]}")
            n_fail += 1
            results[name] = f"FAIL: ORACLE ERROR {str(e)[:200]}"
            continue
        msg = compare(name, sdf, odf)
        if msg:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
            results[name] = f"FAIL: {msg[:200]}"
        else:
            print(f"pass {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            results[name] = f"pass ({len(sdf)} rows)"
    print(f"== {n_pass} pass, {n_fail} fail")
    _log_run(sf_dir, results, n_pass, n_fail)


if __name__ == "__main__":
    main()

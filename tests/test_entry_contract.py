"""Driver-contract tripwires for __spark_entry__ (no SparkSession).

The correctness driver evaluates the FIRST 50 queries() entries, so an
accidental reorder or an edited oracle silently changes what it checks.
Both are pinned by hash here: a rotation or a new query moves or adds
rows in __spark_entry__.QUERY_TABLE and re-pins these two values.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod

# sha256 of "\n".join(queries()): the driver order, window first
QUERIES_ORDER_SHA256 = "d7512bb294a81b7f36e7ad3fb6f378056fa38d0cb482e650d2137af643f1badb"
# sha256 of json.dumps(sorted(oracle_sql().items())): every oracle's text
ORACLE_SQL_SHA256 = "bd02fe995823878c65a66d27adbeb337d45e15a0c03bc112a1f027382fe456ce"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_every_query_has_an_oracle():
    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    missing = [k for k in qs if k not in oq]
    assert missing == [], f"queries without oracle SQL: {missing}"
    orphans = [k for k in oq if k not in qs]
    assert orphans == [], f"oracle entries without a query: {orphans}"
    assert set(qs) == set(oq)


def test_window_holds_rotation_invariants():
    """The driver window is the registry table's first 50 rows, and
    every queries() entry is the row's function behind _fresh."""
    qs = entrymod.queries()
    assert list(qs)[:50] == list(entrymod.DRIVER_WINDOW)
    assert len(entrymod.DRIVER_WINDOW) == 50
    for row in entrymod.QUERY_TABLE:
        assert qs[row.name].__wrapped__ is row.fn, row.name
        # bench.py reads these tags by value: a misspelt one would
        # silently fall back to the plain count series
        assert row.bench in (None, "count", "one_rep", "noop"), row.name


def test_driver_contract_is_pinned_by_hash():
    """The queries() key order and every oracle_sql() text, byte for
    byte. A rotation or a registry change re-pins these on purpose."""
    assert _sha256("\n".join(entrymod.queries())) == QUERIES_ORDER_SHA256
    assert (_sha256(json.dumps(sorted(entrymod.oracle_sql().items())))
            == ORACLE_SQL_SHA256)


def test_query_callables_take_spark_and_sfdir():
    for name, fn in entrymod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) >= 2, (name, params)


def test_oracle_sql_is_nonempty_select():
    for name, sql in entrymod.oracle_sql().items():
        s = sql.strip().lower()
        assert s.startswith(("select", "with")), name


def test_readme_rotation_section_references_constants_not_lists():
    """The rotation prose must point at the registry table instead of
    copying names out of it (a prose copy drifted once), and its stated
    registry size must equal the live count."""
    import re

    text = open(os.path.join(REPO, "README.md")).read()
    sec = text.split("## Correctness window rotation")[1].split("\n## ")[0]
    for const in ("QUERY_TABLE", "DRIVER_WINDOW"):
        assert const in sec, f"rotation prose lost its {const} reference"
    keys = set(entrymod.queries())
    tokens = set(re.findall(r"[a-z][a-z0-9_]{2,}", sec))
    listed = sorted(tokens & keys)
    assert listed == [], (
        f"rotation prose enumerates query names (drift hazard): {listed}"
        " — reference the table instead")
    m = re.search(r"with (\d+)\s*\nregistered entries|with (\d+) registered"
                  r" entries", sec)
    assert m, "rotation prose no longer states the registry size"
    stated = int(m.group(1) or m.group(2))
    assert stated == len(entrymod.queries()), (
        f"rotation prose says {stated} entries, registry has "
        f"{len(entrymod.queries())}")


def test_readme_coverage_map_query_references_exist():
    """Every `q_<name>` reference in README's SURVEY §2 coverage map
    must strip to a registered queries() key — stale references after
    a rename/prune fail here (VERDICT r10 item 9)."""
    import re

    text = open(os.path.join(REPO, "README.md")).read()
    sec = text.split("## SURVEY §2 coverage map")[1].split("\n## ")[0]
    keys = set(entrymod.queries())
    stale = sorted({t[2:] for t in re.findall(r"\bq_[a-z0-9_]+", sec)}
                   - keys)
    assert stale == [], f"README coverage map references unknown queries: {stale}"

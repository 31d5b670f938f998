"""COVERAGE.md is the audit map from SURVEY §2 to the live query registry —
a row citing a query that no longer exists (e.g. after a driver-window
rotation renames slot names) silently breaks the judge's trail.
This check pins every qNN/rNN/vNN citation in the LIVE sections (everything
before the first historical "## Round-" changelog, whose names were
accurate at the time they were written) to a registered query.
"""

from __future__ import annotations

import os
import re

from fantasy_premier_league_spark.queries import all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _slug(name: str) -> str:
    return name.split("_", 1)[1]


def test_coverage_citations_resolve():
    text = open(os.path.join(_REPO, "COVERAGE.md"), encoding="utf-8").read()
    live = text.split("\n## Round-")[0]
    cited = set(re.findall(r"\b([qrv]\d{2})\b", live))
    assert cited, "no citations found — parsing broke"
    prefixes = {name.split("_")[0] for name in all_queries()}
    missing = sorted(c for c in cited if c not in prefixes)
    assert not missing, (
        f"COVERAGE.md live sections cite queries not in the registry: {missing} "
        "(stale after a rotation? update the row to the current slot name)"
    )


def never_driver_verified() -> list[str]:
    """The authoritative never-driver-verified recount (VERDICT r12 item 2:
    computed, never hand-maintained): registry names — matched by SLUG,
    since slot rotations rename the ``NN_`` prefix but never the slug —
    with no driver CORRECTNESS row in any round that is hash-green when the
    query has an oracle. For the two documented engine-internal rows-only
    queries (no oracle CAN exist — HLL register state, zlib DEFLATE), the
    driver's strongest possible row is ``err: "no_oracle"`` with a
    successful spark_rows count (round 13 recorded exactly that), so such
    a row counts as driver-touched; demanding more would pin them into the
    scored window forever as permanent no_oracle rows (VERDICT r13 item 3
    ordered them OUT). COVERAGE.md's rotation ledger quotes this function."""
    import glob
    import json

    registry = all_queries()
    oracled_slugs = {
        _slug(n) for n, q in registry.items() if q.oracle is not None
    }

    verified_slugs = set()
    for f in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        for k, v in json.load(open(f)).items():
            if not isinstance(v, dict):
                continue
            slug = _slug(re.sub(r"^p\d{2}_", "", k))
            if slug in oracled_slugs:
                if not (
                    v.get("rows_match") and v.get("schema_match") and v.get("hash_match")
                ):
                    continue
            elif v.get("err") == "no_oracle":
                # engine-internal rows-only query: the driver ran it
                # (spark_rows recorded) and there is nothing stronger
                # for it to check
                if not v.get("spark_rows"):
                    continue
            elif not (v.get("rows_match") and v.get("schema_match")):
                continue
            verified_slugs.add(slug)

    return sorted(n for n in registry if _slug(n) not in verified_slugs)


def test_rotation_covers_registry():
    """Driver-window churn insurance (VERDICT r10 item 8; recount made
    programmatic per VERDICT r12 item 2): every query the driver has never
    verified must occupy the current q01–q50 window, so the next
    CORRECTNESS file closes the gap. No plan-bullet escape hatch — the
    round-11 alias loophole and the round-12 hand-count drift are both
    structurally impossible here."""
    import __spark_entry__ as E

    window = set(sorted(E.queries())[:50])
    uncovered = [n for n in never_driver_verified() if n not in window]
    assert not uncovered, (
        f"queries with no driver row and not in the current window: {uncovered}"
    )


def test_window_is_physical_slots():
    """The round-11 postmortem: the driver runs the q01–q50 slot names and
    ignores surface aliases. Pin the contract — the first 50 sorted entry
    names must be exactly the qNN slots for NN in 01..50, each with an
    oracle (except the two documented rows-only sketches, rotated into the
    window in round 13 so the driver records their weaker check), and no
    alias indirection (entry names == registry names)."""
    import __spark_entry__ as E

    names = sorted(E.queries())
    window = names[:50]
    assert window == sorted(n for n in names if re.match(r"^q(0[1-9]|[1-4]\d|50)_", n))
    assert [n.split("_")[0] for n in window] == [f"q{i:02d}" for i in range(1, 51)]
    oracles = E.oracle_sql()
    rows_only = {"incremental_distinct", "compression_quality"}
    assert all(n in oracles for n in window if _slug(n) not in rows_only)
    assert set(E.queries()) == set(all_queries())


_PY_PATH = re.compile(r"(?<![\w./-])((?:[\w-]+/)*[\w.-]+\.py)\b")


def test_doc_py_paths_exist():
    """Every ``*.py`` path that README.md or the verify skill names must
    exist, so deleting a script cannot leave a stale run command behind.
    A path with a directory is repo-relative; a bare name (a Layout-tree
    leaf, a root script) must name a file somewhere in the repo."""
    names = set()
    for _root, dirs, files in os.walk(_REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        names.update(f for f in files if f.endswith(".py"))
    missing = []
    for doc in ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md")):
        text = open(os.path.join(_REPO, doc), encoding="utf-8").read()
        for path in sorted(set(_PY_PATH.findall(text))):
            ok = os.path.isfile(os.path.join(_REPO, path)) if "/" in path else path in names
            if not ok:
                missing.append(f"{doc}: {path}")
    assert not missing, f"docs name *.py paths that do not exist: {missing}"

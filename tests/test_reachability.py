"""Every top-level library def and constant is reached from an entry point.

The entry points are the module-level code and defs of ``bench.py``,
``__spark_entry__.py``, ``scardina_spark/__main__.py``, ``perfbench/*.py``
(its tests excluded) and ``tools/*.py``.  The contract registry in
``queries.py`` is reached through ``__spark_entry__.queries``.

The scan is by name, so it over-approximates what is reached: a name,
an attribute or an identifier-shaped string in reached code reaches
every top-level def, class or constant of that name in the library.
Module-level statements other than defs, assignments and imports run on
import and count as reached code; so do module-protocol dunders such as
``__getattr__``.  Imports reach nothing by themselves.  Methods are
not scanned: a reached class keeps every method it defines, so an
orphaned method is not caught here.

A library def that only tests call fails here by name: give it an entry
point or delete it with its tests.  Spark-free.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> why it stays although no entry point reaches it
KEEP = {
    "ref_log_iw": "reference that tests compare dsir_scores against",
    "q_clicks_to_purchases": "reference that tests compare the "
                             "streaming funnel against",
    "save_cin_estimator": "writes the checkpoints that `bench --model` "
                          "reads through load_cin_estimator",
    "load_dmv": "reads the paper's DMV export, which is not in this repo",
    "load_flight_delays": "reads the paper's flight-delays export, which "
                          "is not in this repo",
    "_load_single": "shared reader of the two exports above",
    "stage_imdb_parquet": "stages the paper's IMDB CSV export, which is "
                          "not in this repo",
    "IMDB_SUBSCHEMA_SIZES": "the paper's recorded IMDB sub-join sizes; "
                            "tests pin the CIN subschema names to its keys",
    "JOB_LIGHT_SUBSCHEMA_SIZES": "the paper's recorded JOB-light sub-join "
                                 "sizes; tests pin the subschema names to "
                                 "its keys",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _entry_files() -> list[str]:
    files = [os.path.join(ROOT, f) for f in (
        "bench.py", "__spark_entry__.py", "scardina_spark/__main__.py")]
    files += [f for f in sorted(glob.glob(os.path.join(ROOT, "perfbench",
                                                       "*.py")))
              if not os.path.basename(f).startswith("test_")]
    files += sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    return files


def _library_files() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "scardina_spark", "**", "*.py"),
                            recursive=True))


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _refs(node: ast.AST) -> set[str]:
    """Names, attributes and identifier-shaped strings used under node."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _targets(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [n.id for t in stmt.targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _scan() -> tuple[dict[str, list[tuple[str, set[str]]]], set[str]]:
    """Top-level library defs (name -> (module, names it uses) per
    definition site) and the names the entry points and import-time
    module code use."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in _entry_files():
        roots |= _refs(_parse(path))
    for path in _library_files():
        mod = os.path.relpath(path, ROOT)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _targets(stmt)
            if not names:
                roots |= _refs(stmt)  # runs on import
            for name in names:
                defs.setdefault(name, []).append((mod, _refs(stmt)))
                if _is_dunder(name):
                    roots.add(name)
    return defs, roots


def unreached(extra_roots=()) -> list[str]:
    """``module:name`` of every top-level library def or constant that
    neither an entry point nor ``extra_roots`` reaches."""
    defs, frontier = _scan()
    frontier |= set(extra_roots)
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, refs in defs.get(name, ()):
            frontier |= refs - reached
    return sorted(f"{mod}:{name}" for name, sites in defs.items()
                  if name not in reached for mod, _ in sites)


def test_every_library_def_is_reached_from_an_entry_point():
    missing = unreached(extra_roots=KEEP)
    assert not missing, (
        f"{len(missing)} library defs no entry point reaches; give each "
        "one an entry point or delete it with its tests:\n  "
        + "\n  ".join(missing))


def test_keep_list_names_exist_and_are_unreached():
    """A keep-list entry that an entry point reaches, or that no longer
    exists, is stale."""
    kept = {s.split(":")[1] for s in unreached()}
    assert set(KEEP) <= kept, sorted(set(KEEP) - kept)

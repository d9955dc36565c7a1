"""Registry or delete: every package definition has a non-test caller
(static guard, no Spark).

An AST scan over identifiers (never strings) walks from the program's
roots: the query registry (`queries/__init__.py`), `bench.py`,
`__spark_entry__.py`, `tools/` and `perfbench/` outside its tests. A
top-level definition in the package (function, class or assigned name)
is reached when a reached definition names it; a module's import-time
statements are reached with its first reached definition. Matching is by
name alone, so a shared name can only keep more code, never flag live
code. Import statements and `__all__` strings are not callers: a
re-export does not keep a definition alive, and neither does a string
key such as tools/collect_audit.py's.

A definition nothing reaches, or that only tests reach, fails this test
unless `KEEP` names it with its reason.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hadoop_0_20_2_ljx_spark"

_STREAM = (
    "stream form: registering it needs a QueryDef shape that runs a "
    "stream inside a build (ROADMAP direction 6)"
)
_REF = "independent HOF reference the SQL-text builder is pinned against"
KEEP = {
    "extensions.dedup.minhash_signature": _REF,
    "extensions.dedup.simhash64": _REF,
    "extensions.audit.merge_drift_counts": _STREAM,
    "extensions.audit.merge_fingerprints": _STREAM,
    "extensions.audit.merge_ks_counts": _STREAM,
    "streaming.cdc._bucketed": _STREAM,
    "streaming.cdc.apply_cdc_batch": _STREAM,
    "streaming.cdc.cdc_apply_stream": _STREAM,
    "streaming.cdc.read_cdc_table": _STREAM,
    "streaming.joins.interval_join_stream": _STREAM,
    "streaming.monitors.idempotent_monitor_sink": _STREAM,
    "streaming.stateful.running_user_stats_stream": _STREAM,
    "streaming.tws.SessionCloseProcessor": _STREAM,
    "streaming.tws._OUT_SCHEMA": _STREAM,
    "streaming.tws._duration_ms": _STREAM,
    "streaming.tws.closed_sessions_batch": _STREAM,
    "streaming.tws.closed_sessions_stream": _STREAM,
    "streaming.windows.sessionize_stream": _STREAM,
    "streaming.windows.tumbling_counts_stream": _STREAM,
}


def _py_files(top: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(os.path.join(ROOT, top)):
        dirs[:] = sorted(x for x in dirs if x not in ("tests", "__pycache__"))
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _names(nodes) -> set[str]:
    """Identifiers a node list names: bare names and attribute names (an
    import statement names neither)."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def _defined(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign) and stmt.value is not None
        else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name)]


def package_definitions():
    """{qualified name: (identifiers it names, module, line count)} plus
    {module: identifiers its import-time statements name}."""
    defs: dict[str, tuple[set[str], str, int]] = {}
    module_code: dict[str, set[str]] = {}
    for path in _py_files(PKG):
        rel = os.path.relpath(path, os.path.join(ROOT, PKG))[:-3].replace(os.sep, ".")
        mod = rel.removesuffix(".__init__").removesuffix("__init__")
        loose = []
        for stmt in ast.parse(open(path).read()).body:
            names = _defined(stmt)
            if names == ["__all__"]:
                continue
            if not names:
                loose.append(stmt)
                continue
            lines = stmt.end_lineno - stmt.lineno + 1
            for name in names:
                defs[f"{mod}.{name}"] = (_names([stmt]), mod, lines)
        module_code[mod] = _names(loose)
    return defs, module_code


def _root_names(paths) -> set[str]:
    out: set[str] = set()
    for path in paths:
        out |= _names(ast.parse(open(path).read()).body)
    return out


def reached(defs, module_code, seed: set[str]) -> set[str]:
    """Qualified names reachable from the identifiers in `seed`."""
    by_name: dict[str, list[str]] = {}
    for q in defs:
        by_name.setdefault(q.rsplit(".", 1)[1], []).append(q)
    seen: set[str] = set()
    loaded: set[str] = set()
    todo = list(seed)
    named: set[str] = set()
    while todo:
        ident = todo.pop()
        if ident in named:
            continue
        named.add(ident)
        for q in by_name.get(ident, ()):
            if q in seen:
                continue
            seen.add(q)
            todo += defs[q][0]
            mod = defs[q][1]
            if mod not in loaded:
                loaded.add(mod)
                todo += module_code[mod]
    return seen


def program_roots() -> set[str]:
    paths = [
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, PKG, "queries", "__init__.py"),
    ]
    return _root_names(paths + _py_files("tools") + _py_files("perfbench"))


def scan():
    """(definitions, live names, names only tests reach)"""
    defs, module_code = package_definitions()
    live = reached(defs, module_code, program_roots())
    tested = reached(defs, module_code, _root_names(_py_files("tests")))
    return defs, live, tested


def test_every_package_definition_has_a_program_caller():
    defs, live, tested = scan()
    dead = sorted(q for q in defs if q not in live and q not in KEEP)
    lines = [
        f"{q} ({defs[q][2]} lines, {'tests only' if q in tested else 'nothing'})"
        for q in dead
    ]
    assert not dead, (
        f"{len(dead)} package definitions ({sum(defs[q][2] for q in dead)} lines) "
        "have no caller outside tests: register a query for each or delete it\n"
        + "\n".join(lines)
    )


def test_keep_entries_are_needed():
    """A KEEP entry that is gone, or that the program now reaches, is
    stale: delete it."""
    defs, live, _tested = scan()
    stale = [q for q in KEEP if q not in defs or q in live]
    assert not stale, stale

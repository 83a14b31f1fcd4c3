"""Every top-level definition and class method in the package is reached
by code that runs outside the tests — the crawl, the driver entry
(`__spark_entry__.py`), the tools and the benches — or is listed in
ALLOWED with the reason it stays.

Static AST fixpoint, no Spark: the callers' references (names, attribute
names, import aliases, and identifier-shaped string constants, which catch
dispatch by string) seed the reached set; a reached definition's body adds
its own references, until nothing changes. Module-level statements of the
package that define nothing (they run at import) count as callers too,
except an `__all__` list, which names code but runs none.
Names are matched without their module, so a name defined twice is reached
through either; that can only hide dead code, never report live code as
dead. An ALLOWED entry keeps its definition and what that reaches."""

from __future__ import annotations

import ast
import copy
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cis455crawler_spark"

ALLOWED = {
    # WARC read side: the Common-Crawl input path into the pages table
    "sources.warc:read_warc": "Common-Crawl WARC input path (batch)",
    "sources.warc:warc_to_pages": "Common-Crawl WARC input path (pages projection)",
    "sources.warc:stream_warc_ingest": "Common-Crawl WARC input path (streaming)",
    "functions.urls:canonicalize_url": "ADVICE item 1's open fix (canonical fetch-join key)",
    # the README's documented post-crawl pipeline
    "operators.curation:host_quality_rollup": "README post-crawl curation pipeline",
    "operators.curation:host_blocklist": "README post-crawl curation pipeline",
    "operators.curation:apply_host_blocklist": "README post-crawl curation pipeline",
    "operators.dedup_fuzzy:exact_dedup": "README post-crawl curation pipeline",
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _split_methods(cls: ast.ClassDef, mod: str, defs: dict) -> ast.ClassDef:
    """Register each method of `cls` as its own definition, reached by its
    name like a top-level one; return the class without them. Dunder
    methods stay with the class: Python calls them, not a name."""
    methods = [
        st
        for st in cls.body
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not st.name.startswith("__")
    ]
    for m in methods:
        defs.setdefault(m.name, []).append((f"{mod}:{cls.name}.{m.name}", m))
    shell = copy.copy(cls)
    shell.body = [st for st in cls.body if st not in methods]
    return shell


def _scan_package() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """name -> [(module:name key, defining node)], plus the references of
    the package's module-level statements that define nothing."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    import_time: set[str] = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            mod = os.path.relpath(path[:-3], os.path.join(ROOT, PKG)).replace(os.sep, ".")
            for st in _parse(path).body:
                if isinstance(st, (ast.Import, ast.ImportFrom)):
                    continue  # an import alone runs nothing
                if isinstance(st, ast.ClassDef):
                    st = _split_methods(st, mod, defs)
                if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    names = [st.name]
                elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                    targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                    names = [t.id for t in targets if isinstance(t, ast.Name)]
                    if names == ["__all__"]:
                        continue  # an export list names code, it runs none
                else:
                    names = []
                names = [n for n in names if not n.startswith("__")]
                if not names:
                    import_time |= _refs(st)
                for n in names:
                    defs.setdefault(n, []).append((f"{mod}:{n}", st))
    return defs, import_time


def _caller_refs() -> set[str]:
    """References from every Python file outside the package and tests/."""
    refs: set[str] = set()
    skip = {PKG, "tests", "__pycache__", "spark-warehouse"}
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in skip and not d.startswith(".")]
        for f in files:
            if f.endswith(".py"):
                refs |= _refs(_parse(os.path.join(dirpath, f)))
    return refs


def _reach(defs: dict, seeds: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_refs(node) - reached)
    return reached


def _unreached(defs: dict, reached: set[str]) -> dict[str, ast.AST]:
    return {
        key: node
        for name, found in defs.items()
        if name not in reached
        for key, node in found
    }


def test_package_holds_only_code_that_runs():
    defs, import_time = _scan_package()
    seeds = _caller_refs() | import_time
    unreached = _unreached(defs, _reach(defs, seeds))

    stale = sorted(k for k in ALLOWED if k not in unreached)
    assert not stale, f"ALLOWED entries that are now reached or no longer exist: {stale}"

    kept = {k.split(":", 1)[1] for k in ALLOWED}
    dead = _unreached(defs, _reach(defs, seeds | kept))
    report = [
        f"{key} ({node.end_lineno - node.lineno + 1} lines)"
        for key, node in sorted(dead.items())
    ]
    assert not dead, (
        "package definitions that no crawl, driver entry, tool or bench "
        f"reaches (delete them, or move test scaffolding into tests/): {report}"
    )

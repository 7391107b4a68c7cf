"""Every top-level package def is run by an entry point, not only by tests.

A static reference graph by module-qualified name: each top-level function
or class, and each module's top-level code, is a node; a node refers to
``pkg.mod.name`` when its body names it directly, through an import alias
(re-exports in ``__init__`` followed) or as an attribute of an imported
module. The roots are the entry points: ``__spark_entry__.py``, ``jobs/``,
``tools/``, ``perfbench/``, ``bench.py`` and ``bench_extra.py``. A package
def that only ``tests/`` reach fails this test, apart from ``KEPT`` below,
each with its reason. Pure ``ast``; no Spark.

``python tests/test_reachability.py`` prints the defs no entry point
reaches.
"""

from __future__ import annotations

import ast
import functools
import os
import re
from collections.abc import Iterable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dr_source_spark"
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ENTRY_DIRS = ("jobs", "tools", "perfbench")

KEPT = {
    "dr_source_spark.operators.graph._rank_reference":
        "the pure-Python oracle the PageRank route tests compare both routes with",
    "dr_source_spark.sources.corpus.corpus_from_dir":
        "the fixture-corpus loader of the parity tests; tools/reference_anchor.py "
        "also calls it from the script it builds as a string",
}


def _py_files(rel_dir: str) -> Iterable[str]:
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, rel_dir)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, fn), ROOT)


def _modname(rel: str) -> str:
    parts = rel[:-3].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


class _Module:
    """One file: its top-level defs, its import aliases (every import in
    the file: local name -> qualified targets) and, per unit, the names its
    code uses, unresolved. One walk over the tree."""

    def __init__(self, name: str, rel: str):
        self.name = name
        self.is_pkg = rel.endswith("__init__.py")
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), rel)
        self.defs = {n.name for n in tree.body
                     if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        self.aliases: dict[str, set[str]] = {}
        # unit id -> (imported module paths, names used, (name, attrs) chains)
        self.uses: dict[str, tuple[set, set, set]] = {}
        own = [n for n in tree.body if getattr(n, "name", None) not in self.defs]
        units = [(f"{name}.{n.name}", [n]) for n in tree.body if getattr(n, "name", None) in self.defs]
        for uid, nodes in units + [(name, own)]:
            imports, names, chains = self.uses[uid] = (set(), set(), set())
            for root in nodes:
                for node in ast.walk(root):
                    if isinstance(node, ast.Name):
                        names.add(node.id)
                    elif isinstance(node, ast.Attribute):
                        attrs = []
                        cur = node
                        while isinstance(cur, ast.Attribute):
                            attrs.append(cur.attr)
                            cur = cur.value
                        if isinstance(cur, ast.Name):
                            chains.add((cur.id, tuple(reversed(attrs))))
                    elif isinstance(node, ast.Import):
                        for a in node.names:
                            imports.add(a.name)
                            top = a.name.split(".")[0]
                            self._alias(a.asname or top, a.name if a.asname else top)
                    elif isinstance(node, ast.ImportFrom):
                        base = self._absolute(node)
                        imports.add(base)
                        for a in node.names:
                            self._alias(a.asname or a.name, f"{base}.{a.name}" if base else a.name)

    def _alias(self, local: str, target: str) -> None:
        self.aliases.setdefault(local, set()).add(target)

    def _absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.name.split(".")
        if not self.is_pkg:
            parts = parts[:-1]
        parts = parts[: len(parts) - (node.level - 1)]
        return ".".join(parts + ([node.module] if node.module else []))


class Graph:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        self.entry: set[str] = set()
        for rel in _py_files(PACKAGE):
            self.modules[_modname(rel)] = _Module(_modname(rel), rel)
        for rel in [*ENTRY_FILES, *(r for d in ENTRY_DIRS for r in _py_files(d))]:
            self.modules[_modname(rel)] = _Module(_modname(rel), rel)
            self.entry.add(_modname(rel))
        self.edges = {uid: self._refs(mod, *used)
                      for mod in self.modules.values() for uid, used in mod.uses.items()}

    def _resolve(self, qual: str, seen: frozenset = frozenset()) -> set[str]:
        """Node ids a dotted name denotes (a def, or a module's own code)."""
        if qual in seen:
            return set()
        seen = seen | {qual}
        if qual in self.modules:
            return {qual}
        mod, _, attr = qual.rpartition(".")
        if mod not in self.modules:
            return set()
        m = self.modules[mod]
        if attr in m.defs:
            return {qual, mod}
        out: set[str] = set()
        for target in m.aliases.get(attr, ()):  # a re-export
            out |= self._resolve(target, seen)
        return out

    def _refs(self, mod: _Module, imports: set, names: set, chains: set) -> set[str]:
        out: set[str] = set()
        for target in imports:  # importing a module runs its own code
            parts = target.split(".")
            out.update(p for p in (".".join(parts[:i]) for i in range(1, len(parts) + 1))
                       if p in self.modules)
        for name in names:
            if name in mod.defs:
                out.add(f"{mod.name}.{name}")
            for target in mod.aliases.get(name, ()):
                out |= self._resolve(target)
        for name, attrs in chains:
            if name in mod.defs:
                continue
            for qual in mod.aliases.get(name, ()):
                for attr in attrs:
                    if qual not in self.modules:
                        break
                    qual = f"{qual}.{attr}"
                    out |= self._resolve(qual)
        return out

    def live(self) -> set[str]:
        """Node ids the entry points reach."""
        todo = [uid for name in self.entry for uid in self.modules[name].uses]
        seen = set(todo)
        while todo:
            for nxt in self.edges[todo.pop()]:
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        return seen

    def package_defs(self) -> list[str]:
        return sorted(f"{m.name}.{d}" for m in self.modules.values()
                      if m.name not in self.entry for d in m.defs)


@functools.cache
def _scan() -> tuple[Graph, set[str]]:
    g = Graph()
    return g, g.live()


def unreached() -> list[str]:
    """Package defs no entry point reaches, KEPT left out."""
    g, live = _scan()
    return [d for d in g.package_defs() if d not in live and d not in KEPT]


def test_every_package_def_is_reached_from_an_entry_point():
    missing = unreached()
    assert missing == [], f"{len(missing)} package defs no entry point reaches: {missing}"


def test_kept_defs_are_only_reached_from_tests():
    g, live = _scan()
    tests = "".join(open(os.path.join(ROOT, rel), encoding="utf-8").read() for rel in _py_files("tests")
                    if not rel.endswith("test_reachability.py"))
    for qual in KEPT:
        assert qual in g.package_defs(), qual
        assert qual not in live, f"{qual} is reached from an entry point; drop it from KEPT"
        assert re.search(rf"\b{qual.rsplit('.', 1)[1]}\b", tests), f"no test names {qual}"


if __name__ == "__main__":
    names = unreached()
    print(f"{len(names)} package defs no entry point reaches")
    for n in names:
        print("  ", n)

"""Python intra-file taint analysis (stdlib ``ast``) on the shared taint
algebra of taint_core.py, reimplemented against the observed behavior of
the reference's Python tier (reference plugins/python/taint_visitor.py +
plugin.py; behavior pinned by running the reference on its fixtures —
tests/goldens/).

Python's own semantics, including reference quirks that are part of
finding identity (SURVEY.md §2B B16, §7):

* source matching is exact OR ``.``-suffix OR *substring* containment
  (python/taint_visitor.py:157);
* sanitizer matching uses the last dotted segment;
* a PII assignment target is checked before the value, with its own trace
  text (python/taint_visitor.py:28,112-114,130-133);
* constants (literals, constant-var lookups, folded ``+`` of str) suppress
  taint (python/taint_visitor.py:73-81,141-143); whole-object taint covers
  sub-fields (python/taint_visitor.py:50-56);
* keyword arguments of a sink call are checked too;
* framework mappers are INERT in the taint pass — the reference filters out
  every mapper because the base class defines ``analyze_node``
  (python/plugin.py:51); observed: no FastAPI/Django-sourced findings;
* locally-defined functions are registered but never simulated — only
  project-index (cross-file) callees are (python/taint_visitor.py:184-189);
  the stock reference never wires a project index into this tier
  (plugin lacks the ``project_index`` attribute, scanner.py:170-173), so
  parity runs pass ``fn_index=None``. Our pipeline can wire one in as an
  opt-in extension.
* taint severity is always HIGH (python/plugin.py:64), structural findings
  are HIGH (python/plugin.py:37) — observed, even for CRITICAL categories.

One difference by design: identifier collection returns a deterministic
document-order list (the reference iterates a ``set`` whose order depends on
the process hash seed when an argument holds several tainted names).
"""

from __future__ import annotations

import ast
import os
import textwrap
from typing import Any, Dict, List, Optional, Tuple

from ..kb.compile import TaintSpec
from .taint_core import MAX_CALL_DEPTH, TaintEngine, is_pii, taint_findings


PLUGIN_NAME = "Python AST Analyzer"  # part of finding identity


def _attr_path(node: ast.AST) -> Optional[str]:
    """Dotted path for Name/Attribute chains, None otherwise."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _attr_path(node.value)
        return f"{base}.{node.attr}" if base else None
    return None


def _call_path(node: ast.Call) -> str:
    def resolve(n: ast.AST) -> str:
        if isinstance(n, ast.Name):
            return n.id
        if isinstance(n, ast.Attribute):
            base = resolve(n.value)
            return f"{base}.{n.attr}" if base else f"UNKNOWN.{n.attr}"
        if isinstance(n, ast.Call):
            return resolve(n.func)
        return "UNKNOWN"

    if isinstance(node.func, ast.Name):
        return node.func.id
    if isinstance(node.func, ast.Attribute):
        return resolve(node.func)
    return "UNKNOWN_CALL"


def _ordered_idents(node: Optional[ast.AST]) -> List[str]:
    """All Name ids and Attribute dotted paths under ``node``, document
    order, de-duplicated preserving first occurrence."""
    if node is None:
        return []
    seen: Dict[str, None] = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            seen.setdefault(n.id, None)
        elif isinstance(n, ast.Attribute):
            p = _attr_path(n)
            if p:
                seen.setdefault(p, None)
    return list(seen)


class PyTaintEngine(TaintEngine):
    """One category's source→sink walk over one parsed module."""

    plugin = PLUGIN_NAME
    message = "Taint flow from source to sink '{sink}' via variable '{variable}'"
    severity = "HIGH"  # reference python/plugin.py:64 hardcodes HIGH
    _idents = staticmethod(_ordered_idents)

    @staticmethod
    def _sanitizer_set(names: List[str]) -> set:
        return {s.split(".")[-1] for s in names}

    def _const_value(self, node: ast.AST) -> Any:
        if isinstance(node, ast.Constant):
            return node.value
        path = _attr_path(node)
        if path:
            return self.lookup_const(path)
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
            left, right = self._const_value(node.left), self._const_value(node.right)
            if isinstance(left, str) and isinstance(right, str):
                return left + right
        return None

    def _classify(self, node: ast.AST, var_name: Optional[str] = None) -> Tuple[Optional[str], Optional[str]]:
        """('source'|'sanitizer'|None, matched name); the PII target-name
        rule lives in _assign."""
        name = _call_path(node) if isinstance(node, ast.Call) else (_attr_path(node) or "")
        if not name:
            return None, None
        if name in self.sanitizers or name.split(".")[-1] in self.sanitizers:
            return "sanitizer", name
        if (
            name in self.sources
            or any(name.endswith("." + s) for s in self.sources)
            or any(s in name for s in self.sources)  # substring quirk
        ):
            return "source", name
        return None, None

    def _assign(self, path: str, value: ast.AST, line: int) -> None:
        # PII name heuristic beats everything else (python/taint_visitor.py:129-133)
        if is_pii(path.lower().split(".")[-1]):
            self.taint(
                path,
                {
                    "source": f"Sensitive variable name: {path}",
                    "trace": [f"Variable {path} marked as sensitive at line {line}"],
                },
            )
            return
        super()._assign(path, value, line)

    def _handle_call_node(self, node: ast.Call) -> None:
        fn = _call_path(node)
        matched = None
        if fn in self.sink_args:
            matched = fn
        else:
            for sink_name in self.sink_args:
                if fn.endswith("." + sink_name) or fn == sink_name:
                    matched = sink_name
                    break
        if matched:
            self._check_args(node.args, matched, self.sink_args[matched], node.lineno)
            for kw in node.keywords:
                self._check_arg(kw.value, matched, node.lineno)
        # Only project-index callees are simulated; locally-registered
        # functions are not (reference python/taint_visitor.py:184-189).
        elif fn not in self.functions and self.fn_index is not None and self.depth < MAX_CALL_DEPTH:
            entry = self.fn_index.get(fn) if hasattr(self.fn_index, "get") else None
            if entry and entry.get("lang") == "python":
                self._simulate_remote(node, entry, fn)

    def _simulate_remote(self, call: ast.Call, entry: Dict[str, Any], fn: str) -> None:
        """Cross-file hop (reference python/taint_visitor.py:192-212)."""
        # pad so callee line numbers are absolute in the defining file
        # (reference keeps the original ast node, project_index registration)
        pad = "\n" * max(0, int(entry.get("def_line", 1)) - 1)
        try:
            f_def = ast.parse(pad + textwrap.dedent(entry["def_source"])).body[0]
        except (SyntaxError, IndexError, ValueError):
            return
        if isinstance(f_def, (ast.FunctionDef, ast.AsyncFunctionDef)):
            params = [a.arg for a in f_def.args.args]
            self._simulate(call.args, params, fn, f"in {os.path.basename(entry['path'])}", call.lineno, f_def)


def find_django_mass_assignment(tree: ast.AST) -> List[Dict[str, Any]]:
    """Structural check: Django ModelForm Meta ``fields = '__all__'``
    (reference plugins/python/frameworks.py:49-68; reported as vuln_type
    MASS_ASSIGNMENT, message = the structural message, severity HIGH)."""
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ClassDef):
            continue
        if not any(isinstance(b, ast.Attribute) and b.attr == "ModelForm" for b in node.bases):
            continue
        for item in node.body:
            if isinstance(item, ast.ClassDef) and item.name == "Meta":
                for meta_item in item.body:
                    if isinstance(meta_item, ast.Assign):
                        for target in meta_item.targets:
                            if (
                                isinstance(target, ast.Name)
                                and target.id == "fields"
                                and isinstance(meta_item.value, ast.Constant)
                                and meta_item.value.value == "__all__"
                            ):
                                out.append(
                                    {
                                        "vuln_type": "MASS_ASSIGNMENT",
                                        "message": "Django ModelForm with fields = '__all__' is vulnerable to mass assignment.",
                                        "line": meta_item.lineno,
                                    }
                                )
    return out


class _MultiWalk:
    """Drive K category engines through ONE AST traversal, pre-order: node
    handler first, children after, function scopes popped on exit (the
    event stream of the reference's ast.NodeVisitor). A simulated callee is
    walked the same way, from its def node."""

    def __init__(self, engines: List["PyTaintEngine"]):
        self.engines = engines

    def walk(self, node: ast.AST) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for e in self.engines:
                e.functions[node.name] = node
                e._push_scope_raw()
                for arg in node.args.args:
                    e._taint_pii_param(arg.arg, node.lineno)
            self._children(node)
            for e in self.engines:
                e._pop_scope_raw()
            return
        if isinstance(node, ast.Assign):
            if node.targets:
                path = _attr_path(node.targets[0])
                if path:
                    for e in self.engines:
                        e._assign(path, node.value, node.lineno)
            self._children(node)
            return
        if isinstance(node, ast.Call):
            for e in self.engines:
                e._handle_call_node(node)
            self._children(node)
            return
        self._children(node)

    walk_callee = walk

    def _children(self, node: ast.AST) -> None:
        for child in ast.iter_child_nodes(node):
            self.walk(child)


PyTaintEngine.walker = _MultiWalk


def analyze_python(
    content: str,
    taint_specs: List[TaintSpec],
    fn_index: Optional[Any] = None,
    raise_parse_errors: bool = False,
    tree: Optional[ast.AST] = None,
) -> List[Dict[str, Any]]:
    """All Python-tier findings for one file: structural pass, then ALL
    eligible category engines driven through one parse + one walk
    (parse-once + walk-once fusion of the reference's per-category
    re-parse/re-walk, SURVEY.md §4 R6).

    raise_parse_errors=True raises detectors.ParseFailed on an unparseable
    file instead of the reference-faithful silent [] — the analyze stage
    uses it to surface parse loss as an observable tier-error metric.

    tree: pre-parsed AST of ``content`` (the analyze stage shares one parse
    between this tier and the pattern tier)."""
    if tree is None:
        try:
            tree = ast.parse(content)
        except (SyntaxError, ValueError, RecursionError, MemoryError) as e:
            if raise_parse_errors:
                from . import ParseFailed

                raise ParseFailed(f"python parse failed: {type(e).__name__}: {e}") from e
            return []

    findings: List[Dict[str, Any]] = []
    for s in find_django_mass_assignment(tree):
        findings.append(
            {
                "vuln_type": s["vuln_type"],
                "message": s["message"],
                "severity": "HIGH",
                "line": s["line"],
                "plugin": PLUGIN_NAME,
                "trace": [],
                "rule_id": None,
                "variable": "structural",
                "sink": None,
                "source": None,
                "base_type": s["vuln_type"],
            }
        )

    engines = [PyTaintEngine(spec, fn_index=fn_index) for spec in taint_specs]
    try:
        _MultiWalk(engines).walk(tree)
    except RecursionError:
        # Reference parity for pathologically deep ASTs (plugin.py:41-67
        # wraps per-category visits in one try: a RecursionError keeps all
        # FULLY completed earlier categories and drops the failing one and
        # everything after). The fused walk can't reproduce that boundary —
        # every engine is mid-flight — so fall back to per-engine walks in
        # spec order. The single walks also carry slightly less stack per
        # node than the fused dispatch, so they often complete outright
        # where the fused walk overflowed.
        done = []
        for spec in taint_specs:
            eng = PyTaintEngine(spec, fn_index=fn_index)
            try:
                _MultiWalk([eng]).walk(tree)
            except RecursionError:
                break
            done.append(eng)
        engines = done
    return findings + taint_findings(engines)

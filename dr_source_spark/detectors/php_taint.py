"""PHP intra-file taint analysis on the shared taint algebra of
taint_core.py. Reference semantics that are PHP's own
(plugins/php/taint_visitor.py + plugin.py):

* paths: `$var`, `$obj->field`, `$arr[]` (subscript collapses to `base[]`,
  taint_visitor.py:42-47) with base-fallback lookups;
* sources matched exact or by prefix (`$_GET[]` startswith `$_GET`);
* sinks: ONLY plain function calls match (member calls `$o->m()` are a
  different node type the reference never checks) — exact name only, no
  suffix logic (taint_visitor.py:127-131);
* `echo` and include/require are special-cased sinks (taint_visitor.py:
  133-144);
* literal/constant sink arguments are suppressed (taint_visitor.py:182);
* double-quoted strings (incl. interpolated) are CONSTANTS for assignment
  resolution ("encapsed_string" in _resolve_value, taint_visitor.py:76);
* scopes push on function/method definitions only;
* message `Sink function '{sink}' called with tainted var '{var}'`
  (plugin.py:69), category severity; no project index (plugin has no
  ``index`` hook).
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from ..kb.compile import TaintSpec
from ..parsers.phpparse import interp_vars, parse_php
from .taint_core import TaintEngine, Walker, analyze_fused, is_pii


def _path(node: Optional[Dict]) -> Optional[str]:
    if node is None:
        return None
    t = node["t"]
    if t == "name" and node["id"].startswith("$"):
        return node["id"]
    if t == "member":
        base = _path(node["obj"])
        return f"{base}->{node['prop']}" if base else None
    if t == "index":
        base = _path(node["obj"])
        return f"{base}[]" if base else None
    return None


def _idents(node: Optional[Any], out: Optional[List[str]] = None) -> List[str]:
    if out is None:
        out = []
    if node is None or not isinstance(node, dict):
        return out
    p = _path(node)
    if p is not None and p not in out:
        out.append(p)
    t = node["t"]
    if t == "lit" and node.get("interp"):
        for v in interp_vars(node["val"]):
            if v not in out:
                out.append(v)
    for key in ("obj", "idx", "l", "r", "e", "c", "a", "b", "target", "value", "callee", "ctor", "arg"):
        if key in node:
            _idents(node[key], out)
    for key in ("args", "items"):
        for child in node.get(key, []) or []:
            _idents(child, out)
    return out


class PhpTaintEngine(TaintEngine):
    plugin = "PHP AST Analyzer (Tree-sitter)"
    message = "Sink function '{sink}' called with tainted var '{variable}'"
    base_seps = ("->", "[]")
    literal_args_safe = True  # taint_visitor.py:182
    _idents = staticmethod(_idents)

    def _const_value(self, node: Optional[Dict]) -> Any:
        if node is None:
            return None
        # string (single OR double-quoted/interpolated), integer → constant
        if node["t"] == "lit" and node["kind"] in ("str", "num"):
            return node["val"]
        p = _path(node)
        if p:
            return self.lookup_const(p)
        return None

    def _classify(self, node: Dict, var_name: Optional[str] = None):
        if var_name and is_pii(var_name.lower().replace("$", "")):
            return "source", f"Sensitive variable name: {var_name}"
        name = ""
        if node["t"] == "call":
            callee = node["callee"]
            if callee["t"] == "name":
                name = callee["id"]
        else:
            p = _path(node)
            if p:
                name = p
        if not name:
            return None, None
        if name in self.sanitizers:
            return "sanitizer", name
        if name in self.sources or any(name.startswith(s) for s in self.sources):
            return "source", name
        return None, None

    def _echo_sink(self, s: Dict) -> None:
        if "echo" in self.sink_args:
            self._check_args(s["args"], "echo", self.sink_args["echo"], s["line"])

    def _include_sink(self, kw: str, arg: Optional[Dict], line: int) -> None:
        if kw in self.sink_args and arg is not None:
            self._check_arg(arg, kw, line)

    def _call_sink(self, e: Dict) -> None:
        callee = e["callee"]
        if callee["t"] == "name" and callee["id"] in self.sink_args:
            self._check_args(e["args"], callee["id"], self.sink_args[callee["id"]], e["line"])


class _PhpWalker(Walker):
    def visit_stmt(self, s: Optional[Dict]) -> None:
        if s is None:
            return
        t = s["t"]
        if t == "block":
            for x in s["stmts"]:
                self.visit_stmt(x)
        elif t == "func":
            # scope push on function_definition (taint_visitor.py:115-119)
            self._enter()
            for x in s["body"]["stmts"]:
                self.visit_stmt(x)
            self._exit()
        elif t == "echo":
            for e in self.engines:
                e._echo_sink(s)
            for arg in s["args"]:
                self.visit_expr(arg)
        elif t == "include":
            for e in self.engines:
                e._include_sink(s["kw"], s.get("arg"), s["line"])
            self.visit_expr(s.get("arg"))
        elif t == "ctrl":
            for c in s.get("cond", []):
                self.visit_expr(c)
            self.visit_stmt(s.get("body"))
        elif t == "ret":
            self.visit_expr(s.get("e"))
        elif t == "exprstmt":
            self.visit_expr(s.get("e"))

    def visit_expr(self, e: Optional[Any]) -> None:
        if e is None or not isinstance(e, dict):
            return
        t = e["t"]
        if t == "assign":
            p = _path(e["target"])
            if p and e.get("value") is not None:
                for eng in self.engines:
                    eng._assign(p, e["value"], e["line"])
            self.visit_expr(e.get("value"))
        elif t == "call":
            for eng in self.engines:
                eng._call_sink(e)
            for a in e["args"]:
                self.visit_expr(a)
        elif t == "includeexpr":
            for eng in self.engines:
                eng._include_sink(e["kw"], e.get("arg"), e["line"])
            self.visit_expr(e.get("arg"))
        elif t == "mcall":
            # member calls are NOT sinks in the reference
            self.visit_expr(e["obj"])
            for a in e["args"]:
                self.visit_expr(a)
        elif t == "binary":
            self.visit_expr(e["l"])
            self.visit_expr(e["r"])
        elif t in ("unary",):
            self.visit_expr(e["e"])
        elif t == "new":
            for a in e.get("args", []):
                self.visit_expr(a)
        elif t == "index":
            self.visit_expr(e["obj"])
            self.visit_expr(e["idx"])
        elif t == "ternary":
            self.visit_expr(e["c"])
            self.visit_expr(e["a"])
            self.visit_expr(e["b"])


PhpTaintEngine.walker = _PhpWalker


def analyze_php(content: str, taint_specs: List[TaintSpec]) -> List[Dict[str, Any]]:
    """All PHP AST-tier findings for one file (one parse, one fused walk)."""
    return analyze_fused(PhpTaintEngine, parse_php, content, taint_specs)

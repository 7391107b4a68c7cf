"""Ruby intra-file taint analysis on the shared taint algebra of
taint_core.py. Reference semantics that are Ruby's own
(plugins/ruby/taint_visitor.py + plugin.py):

* every dotted access is a call; paths are `recv.method` / `base[]`;
* DIRECT-SOURCE usage: a path whose base is a known source is tainted even
  without a prior assignment — trace `Direct usage of source {path}`
  (taint_visitor.py:59-63);
* interpolated strings defeat constant resolution (taint_visitor.py:81-86);
* sink match: method == sink, method.endswith('.'+sink), or
  sink.endswith('.'+method) — bidirectional suffix (taint_visitor.py:146-151);
* paren-less call arguments are checked like parenthesized ones
  (taint_visitor.py:182-189);
* literal/constant sink args suppressed (taint_visitor.py:197);
* scopes push on method and do/brace blocks; message
  `Sink method '{sink}' called with tainted var '{var}'` (plugin.py:69).
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional

from ..kb.compile import TaintSpec
from ..parsers.rubyparse import parse_ruby
from .taint_core import TaintEngine, Walker, analyze_fused, is_pii


def _path(node: Optional[Dict]) -> Optional[str]:
    if node is None:
        return None
    t = node["t"]
    if t == "name":
        return node["id"]
    if t == "rcall":
        if node.get("recv") is not None:
            base = _path(node["recv"])
            return f"{base}.{node['name']}" if base else None
        return None
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
    if t == "lit":
        for part in node.get("parts", []) or []:
            _idents(part, out)
        return out
    if t == "rcall":
        _idents(node.get("recv"), out)
        if node["name"] not in out:
            out.append(node["name"])
        for a in node.get("args", []):
            _idents(a, out)
        return out
    for key in ("obj", "idx", "l", "r", "e", "target", "value", "c", "a", "b"):
        if key in node:
            _idents(node[key], out)
    for key in ("args", "items"):
        for child in node.get(key, []) or []:
            _idents(child, out)
    return out


class RubyTaintEngine(TaintEngine):
    plugin = "Ruby AST Analyzer (Tree-sitter)"
    message = "Sink method '{sink}' called with tainted var '{variable}'"
    base_seps = (".", "[]")
    literal_args_safe = True  # taint_visitor.py:197
    _idents = staticmethod(_idents)

    def lookup_taint(self, path: str) -> Optional[Dict]:
        info = super().lookup_taint(path)
        if info is None:
            clean = path.split("[]")[0].split(".")[0]
            if clean in self.sources:
                return {"source": clean, "trace": [f"Direct usage of source {path}"]}
        return info

    def _const_value(self, node: Optional[Dict]) -> Any:
        if node is None:
            return None
        if node["t"] == "lit":
            if node["kind"] == "str" and node.get("interp"):
                return None  # interpolation defeats constants
            if node["kind"] in ("str", "num", "sym"):
                return node["val"].strip("'\":")
        p = _path(node)
        if p:
            return self.lookup_const(p)
        return None

    def _classify(self, node: Dict, var_name: Optional[str] = None):
        if var_name and is_pii(var_name.lower().replace("@", "")):
            return "source", f"Sensitive variable name: {var_name}"
        name = ""
        if node["t"] == "rcall":
            name = node["name"]
        elif node["t"] == "name":
            name = node["id"]
        elif node["t"] == "index":
            base = node["obj"]
            if base is not None and base["t"] == "name":
                name = base["id"]
        if not name:
            return None, None
        if name in self.sanitizers:
            return "sanitizer", name
        if name in self.sources or any(name.startswith(s) for s in self.sources):
            return "source", name
        return None, None

    def _handle_call(self, call: Dict) -> None:
        method = call["name"]
        match_name = None
        if method in self.sink_args:
            match_name = method
        else:
            for s in self.sink_args:
                if method == s or method.endswith("." + s) or s.endswith("." + method):
                    match_name = s
                    break
        if match_name:
            self._check_args(call.get("args", []), match_name, self.sink_args[match_name], call["line"])


class _RubyWalker(Walker):
    def _scoped(self, stmts: List[Dict]) -> None:
        # scope push on method and do/brace blocks (taint_visitor.py)
        self._enter()
        for x in stmts:
            self.visit_stmt(x)
        self._exit()

    def visit_stmt(self, s: Optional[Dict]) -> None:
        if s is None:
            return
        t = s["t"]
        if t in ("container", "block"):
            for x in s["stmts"]:
                self.visit_stmt(x)
        elif t == "method":
            self._scoped(s["body"]["stmts"])
        elif t == "doblock":
            self._scoped(s["stmts"])
        elif t == "ctrl":
            for c in s.get("cond", []):
                self.visit_expr(c)
            self.visit_stmt(s.get("body"))
        elif t == "ret":
            self.visit_expr(s.get("e"))
        elif t == "exprstmt":
            self.visit_expr(s.get("e"))
            if s.get("doblock") is not None:
                self.visit_stmt(s["doblock"])

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
        elif t == "rcall":
            for eng in self.engines:
                eng._handle_call(e)
            self.visit_expr(e.get("recv"))
            for a in e.get("args", []):
                self.visit_expr(a)
        elif t == "binary":
            self.visit_expr(e["l"])
            self.visit_expr(e["r"])
        elif t == "unary":
            self.visit_expr(e["e"])
        elif t == "index":
            self.visit_expr(e["obj"])
            self.visit_expr(e["idx"])
        elif t == "lit":
            for part in e.get("parts", []) or []:
                self.visit_expr(part)
        elif t == "arraylit":
            for v in e["items"]:
                self.visit_expr(v)
        elif t == "ternary":
            self.visit_expr(e["c"])
            self.visit_expr(e["a"])
            self.visit_expr(e["b"])


RubyTaintEngine.walker = _RubyWalker


def analyze_ruby(content: str, taint_specs: List[TaintSpec]) -> List[Dict[str, Any]]:
    """All Ruby AST-tier findings for one file (one parse, one fused walk)."""
    return analyze_fused(RubyTaintEngine, parse_ruby, content, taint_specs)

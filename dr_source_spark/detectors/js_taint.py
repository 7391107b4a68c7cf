"""JavaScript intra-file taint analysis over the structural parser's nodes,
on the shared taint algebra of taint_core.py.

Reference semantics that are JavaScript's own (plugins/javascript/
taint_visitor.py + plugin.py):

* sources matched by exact name OR prefix (`name.startswith(source)`,
  taint_visitor.py:105) — e.g. `req.query.command` matches `req.query`;
* sanitizers by full name or last segment;
* sink match: full dotted name, else bare last segment, else KB `X.base`
  suffix (taint_visitor.py:133-140) — `ejs.render` matches KB `res.render`;
* property-assignment sinks: `el.innerHTML = tainted`
  (taint_visitor.py:126-128);
* constants fold over `+` only (taint_visitor.py:73-78);
* function declarations register at visit time (no pre-registration);
  local and project-index callees are simulated; arrow and function
  expression bodies are walked as nested scopes;
* message format `Sink method '{sink}' called with tainted var '{var}'`
  (plugin.py:99) and category severity.
"""

from __future__ import annotations

import os
from typing import Any, Dict, List, Optional

from ..kb.compile import TaintSpec
from ..parsers.jsparse import parse_js
from .taint_core import MAX_CALL_DEPTH, TaintEngine, Walker, analyze_fused, is_pii, parse_callee


def _path(node: Optional[Dict]) -> Optional[str]:
    if node is None:
        return None
    if node["t"] == "name":
        return node["id"]
    if node["t"] == "member":
        base = _path(node["obj"])
        return f"{base}.{node['prop']}" if base else None
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
    if t == "member":
        _idents(node["obj"], out)
        if node["prop"] not in out:
            out.append(node["prop"])
    elif t == "call":
        callee = node["callee"]
        if callee["t"] == "member":
            _idents(callee["obj"], out)
            if callee["prop"] not in out:
                out.append(callee["prop"])
        else:
            _idents(callee, out)
        for a in node["args"]:
            _idents(a, out)
    elif t in ("binary",):
        _idents(node["l"], out)
        _idents(node["r"], out)
    elif t == "unary":
        _idents(node["e"], out)
    elif t == "new":
        _idents(node["ctor"], out)
        for a in node["args"]:
            _idents(a, out)
    elif t == "index":
        _idents(node["obj"], out)
        _idents(node["idx"], out)
    elif t == "ternary":
        _idents(node["c"], out)
        _idents(node["a"], out)
        _idents(node["b"], out)
    elif t == "assign":
        _idents(node["target"], out)
        _idents(node["value"], out)
    elif t == "template":
        for part in node["parts"]:
            _idents(part, out)
    elif t == "objlit":
        for _k, v in node["props"]:
            _idents(v, out)
    elif t == "arraylit":
        for v in node["items"]:
            _idents(v, out)
    return out


class JsTaintEngine(TaintEngine):
    plugin = "JavaScript AST Analyzer (Tree-sitter)"
    message = "Sink method '{sink}' called with tainted var '{variable}'"
    _idents = staticmethod(_idents)

    def _const_value(self, node: Optional[Dict]) -> Any:
        if node is None:
            return None
        if node["t"] == "lit" and node["kind"] in ("str", "num"):
            return node["val"]
        p = _path(node)
        if p:
            return self.lookup_const(p)
        if node["t"] == "binary" and node["op"] == "+":
            left, right = self._const_value(node["l"]), self._const_value(node["r"])
            if isinstance(left, str) and isinstance(right, str):
                return left + right
        return None

    def _classify(self, node: Dict, var_name: Optional[str] = None):
        if var_name and is_pii(var_name.lower().split(".")[-1]):
            return "source", f"Sensitive variable name: {var_name}"
        name = ""
        if node["t"] == "call":
            name = _path(node["callee"]) or ""
        else:
            p = _path(node)
            if p:
                name = p
        if not name:
            return None, None
        base = name.split(".")[-1]
        if name in self.sanitizers or base in self.sanitizers:
            return "sanitizer", name
        if name in self.sources or any(name.startswith(s) for s in self.sources):
            return "source", name
        return None, None

    def _prop_assign(self, prop: str, value: Dict, line: int) -> None:
        # property-assignment sink (el.innerHTML = tainted)
        if prop in self.sink_args:
            self._check_arg(value, prop, line)

    def _handle_call(self, call: Dict) -> None:
        name = _path(call["callee"]) or ""
        base = name.split(".")[-1]
        match_name = None
        if name in self.sink_args:
            match_name = name
        elif base in self.sink_args:
            match_name = base
        else:
            for s in self.sink_args:
                if s.endswith("." + base) or s == base:
                    match_name = s
                    break
        if match_name:
            self._check_args(call["args"], match_name, self.sink_args[match_name], call["line"])
            return
        f_def = self.functions.get(name)
        if f_def is not None:
            self._simulate_def(call, f_def, name, "locally")
        elif self.fn_index is not None and self.depth < MAX_CALL_DEPTH:
            entry = self.fn_index.get(name)
            if entry and entry.get("lang") == "javascript":
                self._simulate_remote(call, entry, name)

    def _simulate_def(self, call: Dict, f_def: Dict, fn: str, loc: str) -> None:
        self._simulate(call["args"], f_def.get("params", []), fn, loc, call["line"], f_def["body"])

    def _simulate_remote(self, call: Dict, entry: Dict[str, Any], fn: str) -> None:
        pad = "\n" * max(0, int(entry.get("def_line", 1)) - 1)
        program = parse_callee(parse_js, pad + (entry.get("def_source") or ""))
        if program is None:
            return
        f_def = next(
            (s for s in program["stmts"] if s and s.get("t") == "func" and s.get("name") == fn.split(".")[-1]),
            None,
        )
        if f_def is not None:
            self._simulate_def(call, f_def, fn, f"in {os.path.basename(entry['path'])}")


class _JsWalker(Walker):
    # the program is not a scope node (reference scope list): top-level
    # statements live in the global scope

    def visit_function(self, fn: Dict) -> None:
        if fn.get("name"):
            for e in self.engines:
                e.functions[fn["name"]] = fn
        self._enter()
        self.visit_block(fn["body"])
        self._exit()

    def visit_stmt(self, s: Optional[Dict]) -> None:
        if s is None:
            return
        t = s["t"]
        if t == "block":
            self.visit_block(s)
        elif t == "func":
            self.visit_function(s)
        elif t == "classjs":
            for m in s["methods"]:
                self.visit_function(m)
        elif t == "vardecl":
            if s.get("name") and s.get("value") is not None:
                for e in self.engines:
                    e._assign(s["name"], s["value"], s["line"])
            self.visit_expr(s.get("value"))
        elif t == "declgroup":
            for d in s["decls"]:
                self.visit_stmt(d)
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
            target = e["target"]
            p = _path(target)
            if p and e.get("value") is not None:
                for eng in self.engines:
                    eng._assign(p, e["value"], e["line"])
            elif target["t"] == "member" and e.get("value") is not None:
                for eng in self.engines:
                    eng._prop_assign(target["prop"], e["value"], e["line"])
            self.visit_expr(e.get("value"))
        elif t == "call":
            for eng in self.engines:
                eng._handle_call(e)
            callee = e["callee"]
            self.visit_expr(callee["obj"] if callee["t"] == "member" else callee)
            for a in e["args"]:
                self.visit_expr(a)
        elif t == "binary":
            self.visit_expr(e["l"])
            self.visit_expr(e["r"])
        elif t == "unary":
            self.visit_expr(e["e"])
        elif t == "new":
            for a in e["args"]:
                self.visit_expr(a)
        elif t == "index":
            self.visit_expr(e["obj"])
            self.visit_expr(e["idx"])
        elif t == "ternary":
            self.visit_expr(e["c"])
            self.visit_expr(e["a"])
            self.visit_expr(e["b"])
        elif t == "template":
            for part in e["parts"]:
                self.visit_expr(part)
        elif t == "objlit":
            for _k, v in e["props"]:
                self.visit_expr(v)
        elif t == "arraylit":
            for v in e["items"]:
                self.visit_expr(v)
        elif t in ("arrow", "funcexpr"):
            if t == "funcexpr" and e.get("name"):
                for eng in self.engines:
                    eng.functions[e["name"]] = e
            self._enter()
            self.visit_block(e["body"])
            self._exit()


JsTaintEngine.walker = _JsWalker


def analyze_js(
    content: str,
    taint_specs: List[TaintSpec],
    fn_index: Optional[Dict[str, Any]] = None,
) -> List[Dict[str, Any]]:
    """All JavaScript AST-tier findings for one file (one parse, one fused
    walk)."""
    return analyze_fused(JsTaintEngine, parse_js, content, taint_specs, fn_index)

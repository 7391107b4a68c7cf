"""Java intra-file taint analysis over the structural parser's nodes, on
the shared taint algebra of taint_core.py.

The reference Java tier's semantics (plugins/java/taint_visitor.py,
taint_detector.py, frameworks.py, plugin.py), where they are Java's own:

* sources reduced to their last dotted segment (taint_visitor.py:31);
* servlet getters (getParameter/getHeader/getCookies/getQueryString) are
  sources for EVERY category pass (frameworks.py:72, wired at
  taint_visitor.py:107-108);
* PII names as in taint_core (taint_visitor.py:34, 92-97, 133-137);
* sink match: exact method name, else any KB sink `X.name` by suffix
  (taint_visitor.py:158-163); only method invocations are sinks —
  constructor calls (`new File(x)`) never match, faithfully;
* framework sinks (Spring jdbcTemplate.update, Jakarta getWriter/
  getOutputStream, Hibernate createQuery...) fire when KB sinks don't,
  labeled `{TYPE} ({MapperName})`, during every category pass;
* constants fold across `+` of two literal/constant operands
  (taint_visitor.py:73-83) and suppress taint;
* methods are registered before the class body is walked, so a call above
  its callee's definition resolves (taint_visitor.py:120-126); local and
  project-index callees are simulated (taint_visitor.py:179-186, 225-248)
  with callee-file line numbers and caller-file attribution;
* lambda bodies are opaque;
* category severity (upper, default MEDIUM), message
  `Sink method '{sink}' called with tainted variable '{var}'`
  (taint_detector.py:33-44).

Category eligibility (sources AND sinks) is applied at KB compile time.
"""

from __future__ import annotations

import os
from typing import Any, Dict, List, Optional

from ..kb.compile import TaintSpec
from ..parsers.javaparse import parse_java
from .taint_core import MAX_CALL_DEPTH, TaintEngine, Walker, analyze_fused, is_pii, parse_callee

SERVLET_SOURCES = ("getParameter", "getHeader", "getCookies", "getQueryString")
SPRING_ANNOTATIONS = {"RequestParam", "PathVariable", "RequestBody", "RequestHeader", "CookieValue", "ModelAttribute"}
JAXRS_ANNOTATIONS = {"QueryParam", "PathParam", "HeaderParam", "CookieParam", "FormParam", "MatrixParam", "Context"}
SPRING_SINKS = {
    "jdbcTemplate.query": ("SQL_INJECTION", [0]),
    "jdbcTemplate.update": ("SQL_INJECTION", [0]),
    "jdbcTemplate.execute": ("SQL_INJECTION", [0]),
}
JAKARTA_SINKS = {"getWriter": ("XSS", None), "getOutputStream": ("XSS", None)}
HIBERNATE_SINKS = {
    "createQuery": ("SQL_INJECTION", [0]),
    "createNativeQuery": ("SQL_INJECTION", [0]),
    "createSelectionQuery": ("SQL_INJECTION", [0]),
    "createMutationQuery": ("SQL_INJECTION", [0]),
}


def _path(node: Optional[Dict]) -> Optional[str]:
    """Dotted path for name / field-access chains (None for anything else)."""
    if node is None:
        return None
    if node["t"] == "name":
        return node["id"]
    if node["t"] == "member":
        base = _path(node["obj"])
        return f"{base}.{node['prop']}" if base else None
    return None


def _idents(node: Optional[Dict], out: Optional[List[str]] = None) -> List[str]:
    """Document-order identifier paths under a node (path at each node plus
    member components, mirroring the reference's child-identifier walk)."""
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
    elif t == "binary":
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
    elif t == "switchexpr":
        _idents(node["subject"], out)
        for arm in node["arms"]:
            _idents(arm, out)
    elif t == "assign":
        _idents(node["target"], out)
        _idents(node["value"], out)
    elif t == "template":
        for part in node["parts"]:
            _idents(part, out)
    return out


def _call_method_name(call: Dict) -> str:
    callee = call["callee"]
    if callee["t"] == "member":
        return callee["prop"]
    if callee["t"] == "name":
        return callee["id"]
    return ""


def _call_receiver_text(call: Dict) -> Optional[str]:
    callee = call["callee"]
    if callee["t"] == "member":
        return _path(callee["obj"])
    return None


class JavaTaintEngine(TaintEngine):
    plugin = "Java AST Analyzer (Tree-sitter)"  # reference plugin display name
    message = "Sink method '{sink}' called with tainted variable '{variable}'"
    _idents = staticmethod(_idents)

    @staticmethod
    def _source_set(names: List[str]) -> set:
        return {s.split(".")[-1] for s in names}

    _sanitizer_set = _source_set

    def _const_value(self, node: Optional[Dict]) -> Any:
        if node is None:
            return None
        if node["t"] == "lit" and node["kind"] in ("str", "num"):
            return node["val"]
        p = _path(node)
        if p:
            return self.lookup_const(p)
        if node["t"] == "binary":
            left, right = self._const_value(node["l"]), self._const_value(node["r"])
            if isinstance(left, str) and isinstance(right, str):
                return left + right
        return None

    def _classify(self, node: Dict, var_name: Optional[str] = None):
        if var_name and is_pii(var_name.lower().split(".")[-1]):
            return "source", f"Sensitive variable name: {var_name}"
        name = ""
        if node["t"] == "call":
            name = _call_method_name(node)
        else:
            p = _path(node)
            if p:
                name = p
        if not name:
            return None, None
        if name in self.sanitizers:
            return "sanitizer", name
        if name in self.sources:
            return "source", name
        if name in SERVLET_SOURCES:
            return "source", name
        return None, None

    def _enter_param(self, p: Dict) -> None:
        self._taint_pii_param(p["name"], p["line"])
        for ann in p.get("annotations", []):
            tail = ann.split(".")[-1]
            mapper = "SpringBootMapper" if tail in SPRING_ANNOTATIONS else (
                "JaxRsMapper" if tail in JAXRS_ANNOTATIONS else None
            )
            if mapper:
                self.taint(
                    p["name"],
                    {"source": "Framework", "trace": [f"Tainted by {mapper} at line {p['line']}"]},
                )

    def _handle_call(self, call: Dict) -> None:
        method = _call_method_name(call)
        if not method:
            return
        match_name = None
        if method in self.sink_args:
            match_name = method
        else:
            for s_name in self.sink_args:
                if s_name.endswith("." + method) or s_name == method:
                    match_name = s_name
                    break
        if match_name:
            self._check_args(call["args"], match_name, self.sink_args[match_name], call["line"])
            return
        fw = self._framework_sink(call, method)
        if fw:
            v_type, vuln_args, mapper = fw
            self._check_args(call["args"], f"{v_type} ({mapper})", vuln_args, call["line"])
            return
        func = self.functions.get(method)
        if func is not None:
            self._simulate_method(call, func, method, "locally")
        elif self.fn_index is not None and self.depth < MAX_CALL_DEPTH:
            entry = self.fn_index.get(method)
            if entry and entry.get("lang") == "java":
                self._simulate_remote(call, entry, method)

    def _framework_sink(self, call: Dict, method: str):
        recv = _call_receiver_text(call)
        full = f"{recv}.{method}" if recv else None
        if full in SPRING_SINKS:
            v, a = SPRING_SINKS[full]
            return v, a, "SpringBootMapper"
        if method in JAKARTA_SINKS:
            v, a = JAKARTA_SINKS[method]
            return v, a, "JakartaEEMapper"
        if method in HIBERNATE_SINKS:
            v, a = HIBERNATE_SINKS[method]
            return v, a, "HibernateMapper"
        return None

    def _simulate_method(self, call: Dict, func: Dict, method: str, loc: str) -> None:
        params = [p["name"] for p in func["params"]]
        self._simulate(call["args"], params, method, loc, call["line"], func["body"])

    def _simulate_remote(self, call: Dict, entry: Dict[str, Any], method: str) -> None:
        # pad so the re-parsed snippet reports lines ABSOLUTE in the defining
        # file (reference keeps the original tree-sitter node, java/plugin.py:63)
        pad = "\n" * max(0, int(entry.get("def_line", 1)) - 1)
        program = parse_callee(parse_java, "class __W {" + pad + (entry.get("def_source") or "") + "\n}")
        if program is None:
            return
        methods = [m for c in program["classes"] for m in c["methods"] if m["name"] == method]
        if methods:
            self._simulate_method(call, methods[0], method, f"in {os.path.basename(entry['path'])}")


class _Walker(Walker):
    def run(self, program: Dict) -> None:
        for cls in program.get("classes", []):
            self.visit_class(cls)

    def visit_class(self, cls: Dict) -> None:
        # pre-register methods (reference taint_visitor.py:120-126): calls
        # textually before a method's definition still resolve.
        for m in cls.get("methods", []):
            for e in self.engines:
                e.functions[m["name"]] = m
        members = sorted(
            cls.get("fields", []) + cls.get("methods", []) + cls.get("inner", []),
            key=lambda n: n.get("line", 0),
        )
        for member in members:
            if member["t"] == "method":
                self.visit_method(member)
            elif member["t"] == "class":
                self.visit_class(member)
            else:
                self.visit_stmt(member)

    def visit_method(self, m: Dict) -> None:
        pushed = self._push()
        for p in m["params"]:
            for e in self.engines:
                e._enter_param(p)
        self.visit_block(m["body"])
        self._pop(pushed)

    def visit_stmt(self, s: Optional[Dict]) -> None:
        if s is None:
            return
        t = s["t"]
        if t == "block":
            self.visit_block(s)
        elif t == "vardecl":
            if s.get("value") is not None:
                for e in self.engines:
                    e._assign(s["name"], s["value"], s["line"])
                self.visit_expr(s["value"])
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
        elif t == "method":
            self.visit_method(s)

    def visit_expr(self, e: Optional[Dict]) -> None:
        # lambda ("arrow") bodies are opaque, as in the reference
        if e is None or not isinstance(e, dict):
            return
        t = e["t"]
        if t == "assign":
            p = _path(e["target"])
            if p and e.get("value") is not None:
                for eng in self.engines:
                    eng._assign(p, e["value"], e["line"])
            self.visit_expr(e["target"])
            self.visit_expr(e.get("value"))
        elif t == "call":
            for eng in self.engines:
                eng._handle_call(e)
            self.visit_expr(e["callee"]["obj"] if e["callee"]["t"] == "member" else e["callee"])
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
        elif t == "switchexpr":
            self.visit_expr(e["subject"])
            for arm in e["arms"]:
                self.visit_expr(arm)
        elif t == "template":
            for part in e["parts"]:
                self.visit_expr(part)


JavaTaintEngine.walker = _Walker


def analyze_java(
    content: str,
    taint_specs: List[TaintSpec],
    fn_index: Optional[Dict[str, Any]] = None,
) -> List[Dict[str, Any]]:
    """All Java AST-tier findings for one file (one parse, one fused walk)."""
    return analyze_fused(JavaTaintEngine, parse_java, content, taint_specs, fn_index)

"""The taint algebra every AST tier shares (SURVEY.md §2B B2-B6).

Each tier runs one state machine per eligible category over its language's
AST. SURVEY B13-B16 put the per-language differences at ~10-30 lines each;
this module holds the rest once:

* state (B13, B14): a stack of taint scopes beside a stack of constant
  scopes. ``taint`` records a flow in the innermost scope and forgets the
  path's constant there; ``untaint`` drops the flow from the innermost scope
  only. Lookups search innermost first; a field path falls back to its base
  (``user.name`` → ``user``) within each scope.
* PII heuristics (B15): a variable or parameter whose name contains one of
  PII_NAMES is a source.
* assignment: a source value (or a PII target) taints, a sanitizer value
  untaints, a constant value records the constant and untaints, otherwise
  the first tainted identifier under the value propagates with a
  ``Propagated to`` hop, else the target is untainted.
* a sink argument reports at most one hit: its first tainted identifier in
  document order.
* callee simulation: tainted actuals bind to formals with a
  ``Passed to f() <where> at line N`` hop, and a fresh engine for the same
  category walks the callee body, to depth MAX_CALL_DEPTH. Its local
  function registry starts empty (reference taint_visitor.py:247 builds a
  fresh visitor), so only indexed callees chain.
* fusion: a file is parsed once and walked once, driving one engine per
  category in lockstep (SURVEY.md §4 R6; the reference re-parses and
  re-walks per category). Engines never interact, so the fusion preserves
  findings; a RecursionError drops every engine's hits.

A language module subclasses TaintEngine and Walker and supplies what
differs: path and identifier extraction, ``lookup_taint``'s fallback
separators, ``_classify``, ``_const_value``, sink-name matching, literal
sink-argument suppression, message text and the walker over its AST.
"""

from __future__ import annotations

import functools
from typing import Any, Callable, Dict, List, Optional

from ..kb.compile import TaintSpec

PII_NAMES = ("password", "email", "secret", "token", "credit_card", "cc", "ssn")
MAX_CALL_DEPTH = 3  # reference python/taint_visitor.py:14


def is_pii(name: str) -> bool:
    # a plain loop: this runs on every assignment and parameter
    for p in PII_NAMES:
        if p in name:
            return True
    return False


@functools.lru_cache(maxsize=2048)
def parse_callee(parse: Callable[[str], Any], src: str) -> Any:
    """An indexed callee's parsed source, None when it cannot be parsed.
    With fused walks every category engine on every calling file simulates
    the same def; the parse is pure, so one parse per executor process
    serves them all. Bounded against index churn."""
    try:
        return parse(src)
    except (RecursionError, MemoryError):
        return None


class TaintEngine:
    """One category's taint state over one file or one simulated callee."""

    walker: type  # the language's Walker subclass
    plugin: str
    message: str  # str.format template over {sink} and {variable}
    severity: Optional[str] = None  # None: the category's own severity
    base_seps = (".",)  # lookup_taint's base-fallback separators, in order
    literal_args_safe = False  # a constant sink argument never reports

    @staticmethod
    def _idents(node: Any) -> List[str]:
        """Identifier paths under ``node``, document order, no repeats."""
        raise NotImplementedError

    @staticmethod
    def _source_set(names: List[str]) -> set:
        return set(names)

    _sanitizer_set = _source_set

    def __init__(
        self,
        spec: TaintSpec,
        fn_index: Optional[Dict[str, Any]] = None,
        depth: int = 0,
        seed_scope: Optional[Dict[str, Dict]] = None,
    ):
        self.spec = spec
        self.sources = self._source_set(spec.sources)
        self.sanitizers = self._sanitizer_set(spec.sanitizers)
        self.sink_args: Dict[str, Optional[List[int]]] = dict(spec.sinks)
        self.fn_index = fn_index
        self.depth = depth
        self.scopes: List[Dict[str, Dict]] = [seed_scope if seed_scope is not None else {}]
        self.consts: List[Dict[str, Any]] = [{}]
        self.hits: List[Dict[str, Any]] = []
        self.functions: Dict[str, Any] = {}
        # a callee's seeded first scope stands in for its body block's scope
        self.skip_first_scope = seed_scope is not None

    # -- state ----------------------------------------------------------------

    def lookup_taint(self, path: str) -> Optional[Dict]:
        bases = ()  # a plain loop: cheaper than a comprehension on this hot path
        for sep in self.base_seps:
            if sep in path:
                bases += (path.split(sep, 1)[0],)
        for scope in reversed(self.scopes):
            if path in scope:
                return scope[path]
            for base in bases:
                if base in scope:
                    return scope[base]
        return None

    def lookup_const(self, path: str) -> Any:
        for scope in reversed(self.consts):
            if path in scope:
                return scope[path]
        return None

    def taint(self, path: str, info: Dict) -> None:
        self.scopes[-1][path] = info
        self.consts[-1].pop(path, None)

    def untaint(self, path: str) -> None:
        self.scopes[-1].pop(path, None)

    def _push_scope(self) -> bool:
        if self.skip_first_scope:
            self.skip_first_scope = False
            return False
        self._push_scope_raw()
        return True

    def _pop_scope(self, pushed: bool) -> None:
        if pushed:
            self._pop_scope_raw()

    def _push_scope_raw(self) -> None:
        self.scopes.append({})
        self.consts.append({})

    def _pop_scope_raw(self) -> None:
        self.consts.pop()
        self.scopes.pop()

    # -- transitions ----------------------------------------------------------

    def _classify(self, node: Any, var_name: Optional[str] = None):
        """('source' | 'sanitizer' | None, matched name) for a value assigned
        to ``var_name``."""
        raise NotImplementedError

    def _const_value(self, node: Any) -> Any:
        raise NotImplementedError

    def _taint_pii_param(self, name: str, line: int) -> None:
        if is_pii(name.lower()):
            self.taint(
                name,
                {"source": f"Sensitive parameter: {name}",
                 "trace": [f"Sensitive data in parameter {name} at line {line}"]},
            )

    def _assign(self, path: str, value: Any, line: int) -> None:
        kind, name = self._classify(value, path)
        if kind == "sanitizer":
            self.untaint(path)
            return
        if kind == "source":
            self.taint(path, {"source": name, "trace": [f"Tainted by {name} at line {line}"]})
            return
        const_val = self._const_value(value)
        if const_val is not None:
            self.consts[-1][path] = const_val
            self.untaint(path)
            return
        for ident in self._idents(value):
            info = self.lookup_taint(ident)
            if info:
                self.taint(path, {"source": info["source"], "trace": info["trace"] + [f"Propagated to {path} at line {line}"]})
                return
        self.untaint(path)

    def _check_args(self, args: List[Any], sink: str, vuln_args: Optional[List[int]], line: int) -> None:
        for idx, arg in enumerate(args):
            if vuln_args is None or idx in vuln_args:
                self._check_arg(arg, sink, line)

    def _check_arg(self, node: Any, sink: str, line: int) -> None:
        if self.literal_args_safe and self._const_value(node) is not None:
            return
        for path in self._idents(node):
            info = self.lookup_taint(path)
            if info:
                self.hits.append({"sink": sink, "variable": path, "line": line, "trace": info["trace"]})
                return

    def _simulate(self, args: List[Any], params: List[str], fn: str, loc: str, line: int, body: Any) -> None:
        """Walk callee ``body`` with the tainted actuals bound to ``params``
        (``loc``: "locally" or "in <file>")."""
        if self.depth >= MAX_CALL_DEPTH:
            return
        seeded: Dict[str, Dict] = {}
        for idx, arg in enumerate(args[: len(params)]):
            for path in self._idents(arg):
                info = self.lookup_taint(path)
                if info:
                    seeded[params[idx]] = {
                        "source": info["source"],
                        "trace": info["trace"] + [f"Passed to {fn}() {loc} at line {line}"],
                    }
                    break
        if seeded:
            sub = type(self)(self.spec, self.fn_index, self.depth + 1, seed_scope=seeded)
            self.walker([sub]).walk_callee(body)
            self.hits.extend(sub.hits)


class Walker:
    """One traversal of a parsed file driving N category engines in
    lockstep. Each engine keeps its own state; the walker owns only the
    structure."""

    def __init__(self, engines: List[TaintEngine]):
        self.engines = engines

    def run(self, program: Dict) -> None:
        for s in program.get("stmts", []):
            self.visit_stmt(s)

    def visit_stmt(self, s: Optional[Dict]) -> None:
        raise NotImplementedError

    def visit_block(self, block: Dict) -> None:
        pushed = self._push()
        for s in block.get("stmts", []):
            self.visit_stmt(s)
        self._pop(pushed)

    def walk_callee(self, body: Dict) -> None:
        self.visit_block(body)

    def _push(self) -> List[bool]:
        return [e._push_scope() for e in self.engines]

    def _pop(self, pushed: List[bool]) -> None:
        for e, p in zip(self.engines, pushed):
            e._pop_scope(p)

    def _enter(self) -> None:
        for e in self.engines:
            e._push_scope_raw()

    def _exit(self) -> None:
        for e in self.engines:
            e._pop_scope_raw()


def taint_findings(engines: List[TaintEngine]) -> List[Dict[str, Any]]:
    """Finding dicts for every engine's hits, engine order then hit order."""
    out: List[Dict[str, Any]] = []
    for engine in engines:
        spec = engine.spec
        severity = engine.severity or spec.severity
        for hit in engine.hits:
            trace = hit["trace"]
            out.append(
                {
                    "vuln_type": f"{spec.vuln_type} (AST Taint)",
                    "message": engine.message.format(sink=hit["sink"], variable=hit["variable"]),
                    "severity": severity,
                    "line": hit["line"],
                    "plugin": engine.plugin,
                    "trace": trace,
                    "rule_id": None,
                    "variable": hit["variable"],
                    "sink": hit["sink"],
                    "source": trace[0] if trace else None,
                    "base_type": spec.vuln_type,
                }
            )
    return out


def analyze_fused(
    engine: type,
    parse: Callable[[str], Any],
    content: str,
    taint_specs: List[TaintSpec],
    fn_index: Optional[Dict[str, Any]] = None,
) -> List[Dict[str, Any]]:
    """All findings of one tier for one file: parse once, one walk driving
    one ``engine`` per spec."""
    if not taint_specs:
        # every category screened out: no engine could hit, so skip the
        # parse and the walk
        return []
    try:
        program = parse(content)
    except (RecursionError, MemoryError):
        return []
    engines = [engine(spec, fn_index) for spec in taint_specs]
    try:
        engine.walker(engines).run(program)
    except RecursionError:
        engines = []
    return taint_findings(engines)

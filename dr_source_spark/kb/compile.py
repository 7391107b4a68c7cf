"""Compile the merged KB into (a) a pickleable executor-side form consumed
by the detector pandas-UDFs and (b) an exploded rule dimension DataFrame for
relational (broadcast-join) plans.

The compiled form is built once on the driver and shipped via
``SparkContext.broadcast`` — the reference instead re-loads the YAML once per
plugin instance (8x) and recompiles regexes per file
(reference plugins/regex/plugin.py:11,34-62); compiling once per executor is
the single biggest constant-factor win (SURVEY.md §4 R6/R8).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple

from .loader import KnowledgeBase

SEVERITY_WHITELIST = {"CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO"}

# Extension→KB-language map used by the regex tier
# (reference plugins/regex/plugin.py:22-29 — note .jsx/.tsx are NOT mapped
# there even though the JS AST plugin claims them).
REGEX_LANG_MAP = {
    ".py": "python",
    ".java": "java",
    ".js": "javascript",
    ".ts": "javascript",
    ".php": "php",
    ".rb": "ruby",
}

# Extension→AST-tier language (per-plugin get_supported_extensions lists).
AST_LANG_MAP = {
    ".py": "python",
    ".java": "java",
    ".js": "javascript",
    ".jsx": "javascript",
    ".ts": "javascript",
    ".tsx": "javascript",
    ".php": "php",
    ".phtml": "php",
    ".php4": "php",
    ".php5": "php",
    ".rb": "ruby",
    ".rake": "ruby",
    ".gemspec": "ruby",
}

# Pattern tier runs on these extensions only (reference pattern/plugin.py:74-82).
PATTERN_LANG_MAP = {
    ".py": "python",
    ".js": "javascript",
    ".java": "java",
    ".php": "php",
    ".rb": "ruby",
}


def _norm_severity(raw: Any) -> str:
    sev = str(raw if raw is not None else "MEDIUM").upper()
    return sev if sev in SEVERITY_WHITELIST else "INFO"


def _norm_sinks(sink_list: List[Any]) -> List[Tuple[str, Optional[List[int]]]]:
    """KB sinks are strings (all args vulnerable) or {name, args:[idx]} dicts
    (reference taint visitors' constructor, e.g. python/taint_visitor.py:16-19)."""
    out: List[Tuple[str, Optional[List[int]]]] = []
    for s in sink_list:
        if isinstance(s, dict) and "name" in s:
            out.append((s["name"], s.get("args")))
        elif isinstance(s, str):
            out.append((s, None))
    return out


@dataclass
class RegexRule:
    rule_id: str
    vuln_type: str
    message: str
    pattern: str
    severity: str  # rule-level (default MEDIUM — observed reference behavior:
    # category severity is NOT consulted, regex/plugin.py:45)


@dataclass
class TaintSpec:
    vuln_type: str
    severity: str  # category severity (used by java/js/php/ruby tiers)
    cwe: Optional[str]
    sources: List[str]
    sinks: List[Tuple[str, Optional[List[int]]]]
    sanitizers: List[str]
    # screening tokens: a sink can only match if one of these literal
    # strings occurs in the file text (sink names are method identifiers
    # taken from source text in every tier's matcher) — lets the analyze
    # stage skip whole category walks with zero semantic risk.
    sink_tokens: Tuple[str, ...] = ()

    def __post_init__(self):
        if not self.sink_tokens:
            toks = []
            for name, _args in self.sinks:
                seg = name.split(".")[-1]
                # strip member-access prefixes other dialects use
                seg = seg.split("::")[-1].split("->")[-1]
                if seg and seg not in toks:
                    toks.append(seg)
            self.sink_tokens = tuple(toks)


@dataclass
class PatternSpec:
    vuln_type: str
    severity: str
    cwe: Optional[str]
    message: str
    logic: Dict[str, Any]


@dataclass
class CompiledKB:
    """Everything the executor-side detector tiers need, pickle-friendly.

    Regex patterns are kept as strings; each executor compiles them once
    (lazily, memoized in the UDF module) — compiled ``re.Pattern`` objects
    don't pickle.
    """

    general_regex: List[RegexRule] = field(default_factory=list)
    lang_regex: Dict[str, List[RegexRule]] = field(default_factory=dict)
    # lang → ordered taint specs. Eligibility already applied:
    # python needs sinks only (reference python/plugin.py:46-47);
    # other langs need sources AND sinks (java/plugin.py:93-94 etc.).
    taint: Dict[str, List[TaintSpec]] = field(default_factory=dict)
    pattern: Dict[str, List[PatternSpec]] = field(default_factory=dict)
    severity_by_type: Dict[str, str] = field(default_factory=dict)
    cwe_by_type: Dict[str, str] = field(default_factory=dict)

    def regex_rules_for_lang(self, lang: Optional[str]) -> List[RegexRule]:
        """Reference iteration order: per vuln_type, general rules then
        lang-specific rules (regex/plugin.py:36-62). The precomputed lists
        here preserve that order."""
        rules = list(self.general_regex)
        if lang and lang in self.lang_regex:
            # interleave per category order
            return self._interleaved.get(lang, rules)
        return rules

    # populated by compile_kb
    _interleaved: Dict[str, List[RegexRule]] = field(default_factory=dict)


LANGS = ("java", "python", "javascript", "php", "ruby")


def compile_kb(kb: KnowledgeBase) -> CompiledKB:
    ckb = CompiledKB()
    for vt in kb.vuln_types():
        cat_sev = kb.severity(vt)
        cwe = kb.cwe(vt)
        ckb.severity_by_type[vt] = cat_sev
        if cwe:
            ckb.cwe_by_type[vt] = cwe

        for r in kb.general_regex(vt):
            if not _compiles(r.get("pattern")):
                continue
            ckb.general_regex.append(
                RegexRule(r["id"], vt, r["message"], r["pattern"], _norm_severity(r.get("severity", "MEDIUM")))
            )

        for lang in LANGS:
            for r in kb.lang_regex(vt, lang):
                if not _compiles(r.get("pattern")):
                    continue
                ckb.lang_regex.setdefault(lang, []).append(
                    RegexRule(r["id"], vt, r["message"], r["pattern"], _norm_severity(r.get("severity", "MEDIUM")))
                )

            sources = kb.ast_sources(vt, lang)
            sinks = _norm_sinks(kb.ast_sinks(vt, lang))
            sanitizers = kb.ast_sanitizers(vt, lang)
            eligible = bool(sinks) if lang == "python" else bool(sources) and bool(sinks)
            if eligible:
                ckb.taint.setdefault(lang, []).append(
                    TaintSpec(vt, cat_sev, cwe, list(sources), sinks, list(sanitizers))
                )

            logic = kb.patterns_logic(vt, lang)
            if logic:
                message = kb.detector_rules(vt).get("message", "Vulnerability found via pattern matching.")
                ckb.pattern.setdefault(lang, []).append(PatternSpec(vt, cat_sev, cwe, message, logic))

    # Reference order inside one file: for each vuln_type, general rules then
    # lang rules. Precompute per-lang interleaved lists.
    for lang in LANGS:
        seq: List[RegexRule] = []
        by_vt_general: Dict[str, List[RegexRule]] = {}
        for r in ckb.general_regex:
            by_vt_general.setdefault(r.vuln_type, []).append(r)
        by_vt_lang: Dict[str, List[RegexRule]] = {}
        for r in ckb.lang_regex.get(lang, []):
            by_vt_lang.setdefault(r.vuln_type, []).append(r)
        for vt in kb.vuln_types():
            seq.extend(by_vt_general.get(vt, []))
            seq.extend(by_vt_lang.get(vt, []))
        ckb._interleaved[lang] = seq
    return ckb


_COMPILED_CACHE: Dict[tuple, CompiledKB] = {}


def compiled_kb_cached(
    explicit_path: Optional[str] = None,
    user_config_dir: Optional[str] = None,
    project_dir: Optional[str] = None,
) -> CompiledKB:
    """load_kb + compile_kb behind an overlay-mtime cache.

    Repeated extractions in one session get the SAME CompiledKB object, so
    the detector stage's broadcast memo (operators/analyze._broadcast_ckb)
    reuses the already-shipped KB instead of re-broadcasting and
    re-deserializing it in every python worker on every query — a measured
    ~0.5 s/query at 32 workers. The cache key includes each overlay file's
    mtime, so editing a rules YAML mid-session still takes effect."""
    from .loader import load_kb, overlay_paths

    paths = overlay_paths(explicit_path, user_config_dir, project_dir)
    stamp = tuple(
        (p, os.path.getmtime(p) if os.path.exists(p) else None) for p in paths
    )
    hit = _COMPILED_CACHE.get(stamp)
    if hit is None:
        _COMPILED_CACHE[stamp] = hit = compile_kb(
            load_kb(explicit_path, user_config_dir, project_dir)
        )
    return hit


def _compiles(pattern: Optional[str]) -> bool:
    if pattern is None:
        return False
    try:
        re.compile(pattern)
        return True
    except re.error:
        return False


def kb_rules_df(spark, kb: KnowledgeBase):
    """Exploded rule dimension for relational plans (broadcast-join side)."""
    from ..schema import KB_RULES

    rows = []
    for vt in kb.vuln_types():
        cat_sev = kb.severity(vt)
        cwe = kb.cwe(vt)
        for r in kb.general_regex(vt):
            rows.append((vt, cwe, cat_sev, "*", "regex", r.get("id"), r.get("pattern"), r.get("message"),
                         _norm_severity(r.get("severity", "MEDIUM")), None, None, None, None))
        for lang in LANGS:
            for r in kb.lang_regex(vt, lang):
                rows.append((vt, cwe, cat_sev, lang, "regex", r.get("id"), r.get("pattern"), r.get("message"),
                             _norm_severity(r.get("severity", "MEDIUM")), None, None, None, None))
            sources = kb.ast_sources(vt, lang)
            sinks = _norm_sinks(kb.ast_sinks(vt, lang))
            if sinks:
                sinks_json = json.dumps([{"name": n, "args": a} for n, a in sinks])
                rows.append((vt, cwe, cat_sev, lang, "ast", None, None, None, None,
                             list(sources), sinks_json, list(kb.ast_sanitizers(vt, lang)), None))
            logic = kb.patterns_logic(vt, lang)
            if logic:
                rows.append((vt, cwe, cat_sev, lang, "pattern", None, None, None, None,
                             None, None, None, json.dumps(logic)))
    return spark.createDataFrame(rows, KB_RULES)

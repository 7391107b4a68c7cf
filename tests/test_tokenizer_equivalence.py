"""The regex-accelerated tokenizer must be TOKEN-STREAM IDENTICAL to the
original per-char reference implementation (kept verbatim below), including
its quirks: unterminated strings swallow the newline without bumping the
line counter, trailing backslashes are included, numbers accept letters and
dots with +/- only after e/E. Checked over the reference fixture corpus,
grammar-fuzz programs, and random fragment noise."""

from __future__ import annotations

import os
import random
import sys

from dr_source_spark.parsers.ctok import Tok, tokenize

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def tokenize_reference(src: str):
    """The original round-1 per-char tokenizer, verbatim."""
    _PUNCT3 = (">>>", "===", "!==", "**=", "...", "<<=", ">>=")
    _PUNCT2 = (
        "==", "!=", "<=", ">=", "&&", "||", "++", "--", "+=", "-=", "*=", "/=",
        "%=", "&=", "|=", "^=", "->", "=>", "::", "<<", ">>", "??", "?.",
    )
    toks = []
    i, n, line = 0, len(src), 1
    while i < n:
        ch = src[i]
        if ch == "\n":
            line += 1
            i += 1
            continue
        if ch in " \t\r\f\v":
            i += 1
            continue
        if ch == "/" and i + 1 < n:
            nxt = src[i + 1]
            if nxt == "/":
                j = src.find("\n", i)
                i = n if j < 0 else j
                continue
            if nxt == "*":
                j = src.find("*/", i + 2)
                seg = src[i : (j + 2 if j >= 0 else n)]
                line += seg.count("\n")
                i = n if j < 0 else j + 2
                continue
        if ch in "'\"":
            j = i + 1
            buf = [ch]
            while j < n:
                c = src[j]
                buf.append(c)
                if c == "\\" and j + 1 < n:
                    buf.append(src[j + 1])
                    j += 2
                    continue
                if c == ch:
                    break
                if c == "\n":
                    break
                j += 1
            toks.append(Tok("str", "".join(buf), line))
            i = j + 1
            continue
        if ch == "`":
            j = i + 1
            depth = 0
            while j < n:
                c = src[j]
                if c == "\\":
                    j += 2
                    continue
                if c == "$" and j + 1 < n and src[j + 1] == "{":
                    depth += 1
                    j += 2
                    continue
                if c == "}" and depth:
                    depth -= 1
                elif c == "`" and not depth:
                    break
                j += 1
            seg = src[i : j + 1]
            toks.append(Tok("template", seg, line))
            line += seg.count("\n")
            i = j + 1
            continue
        if ch.isdigit() or (ch == "." and i + 1 < n and src[i + 1].isdigit()):
            j = i
            while j < n and (src[j].isalnum() or src[j] in "._xXbBoOlLfFdDeE+-"):
                if src[j] in "+-" and src[j - 1] not in "eE":
                    break
                j += 1
            toks.append(Tok("num", src[i:j], line))
            i = j
            continue
        if ch.isalpha() or ch in "_$@":
            j = i + 1
            while j < n and (src[j].isalnum() or src[j] in "_$"):
                j += 1
            toks.append(Tok("id", src[i:j], line))
            i = j
            continue
        got = False
        for group in (_PUNCT3, _PUNCT2):
            for p in group:
                if src.startswith(p, i):
                    toks.append(Tok("punct", p, line))
                    i += len(p)
                    got = True
                    break
            if got:
                break
        if not got:
            toks.append(Tok("punct", ch, line))
            i += 1
    return toks


def _assert_same(src: str, label: str) -> None:
    assert tokenize(src) == tokenize_reference(src), f"token stream diverged: {label}"


def test_reference_fixture_corpus_identical(reference_corpus):
    n = 0
    for dirpath, _dirs, files in os.walk(reference_corpus):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            with open(fp, encoding="utf-8", errors="ignore") as f:
                _assert_same(f.read(), fp)
            n += 1
    assert n > 10


def test_grammar_fuzz_programs_identical():
    from test_parser_grammar_fuzz import gen_program

    rng = random.Random(7)
    for lang in ("java", "javascript", "php", "ruby"):
        for _ in range(60):
            _assert_same(gen_program(lang, rng), lang)


def test_random_fragment_noise_identical():
    frags = list("abcdefXYZ_09 \t\n(){}[]<>.,;:=+-*/\\'\"`$#@!?%&|^~") + [
        "->", "=>", "==", "#{", "${", "/*", "*/", "//", "1e+5", "0x1F", "1.2.3",
        "x\\", "'unterminated\nnext", '"esc\\"q"', "3+4", "1e", "`t ${a} u`",
    ]
    rng = random.Random(11)
    for _ in range(400):
        src = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 120)))
        _assert_same(src, repr(src[:60]))


# ---------------------------------------------------------------------------
# expression-parser equivalence: precedence climbing vs the original
# 10-level recursive descent (kept verbatim below) — parse TREES must be
# identical, including the dangling-operator degradation path.
# ---------------------------------------------------------------------------

from dr_source_spark.parsers.cexpr import _BIN_LEVELS, ExprParser  # noqa: E402


class _DescentParser(ExprParser):
    def _binary(self, level):
        if level >= len(_BIN_LEVELS):
            return self._unary()
        left = self._binary(level + 1)
        while True:
            t = self.ts.peek()
            if left is None or t is None or t.text not in _BIN_LEVELS[level]:
                return left
            op = self.ts.next().text
            right = self._binary(level + 1)
            if right is None:
                return left
            left = {"t": "binary", "op": op, "l": left, "r": right, "line": left["line"]}


def _parse_trees(src: str, lang: str):
    from dr_source_spark.parsers.ctok import TokStream, tokenize as tk
    from dr_source_spark.parsers import javaparse, jsparse

    out = []
    for cls in (ExprParser, _DescentParser):
        import dr_source_spark.parsers.cexpr as cexpr_mod

        orig = cexpr_mod.ExprParser
        try:
            cexpr_mod.ExprParser = cls
            import importlib

            importlib.reload(javaparse)
            importlib.reload(jsparse)
            if lang == "java":
                out.append(javaparse.parse_java(src))
            else:
                out.append(jsparse.parse_js(src))
        finally:
            cexpr_mod.ExprParser = orig
    importlib.reload(javaparse)
    importlib.reload(jsparse)
    return out


def test_expr_parser_climbing_equals_descent(realcode_dir):
    import random

    from test_parser_grammar_fuzz import gen_program

    cases = []
    for dirpath, _d, files in os.walk(realcode_dir):
        for fn in files:
            if fn.endswith((".java", ".js")):
                with open(os.path.join(dirpath, fn), encoding="utf-8", errors="ignore") as f:
                    cases.append((f.read(), "java" if fn.endswith(".java") else "js"))
    rng = random.Random(13)
    for _ in range(40):
        cases.append((gen_program("java", rng), "java"))
        cases.append((gen_program("javascript", rng), "js"))
    # malformed expressions exercising the dangling-operator path
    for bad in ("int x = a * ] + b;", "int y = a + * b - c;", "int z = a || && b;"):
        cases.append((f"public class A {{ void m() {{ {bad} }} }}", "java"))
    assert len(cases) > 40
    for src, lang in cases:
        new, old = _parse_trees(src, lang)
        assert new == old, f"parse tree diverged ({lang}): {src[:80]!r}"

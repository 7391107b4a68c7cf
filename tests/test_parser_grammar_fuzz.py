"""Grammar-fragment fuzz for the tree-sitter-replacement tiers (Java/JS/
PHP/Ruby): random *valid* programs built from modern-syntax productions the
fixtures don't cover — generics, lambdas, destructuring, template-literal
nesting, heredocs, PHP alternative syntax — each with ONE planted
source→sink flow.

Properties:
1. the engines never raise (a crash in an executor batch costs the task);
2. findings are deterministic across runs;
3. the planted flow is RECOVERED at a measured rate — this is the
   parse-fidelity metric: noise that breaks the parser silently loses the
   finding, and the rate bounds that loss. The floor asserted here is the
   measured rate at commit time; regressions below it mean a parser broke.
"""

from __future__ import annotations

import random

import pytest

from dr_source_spark.kb import compile_kb, load_kb

_CKB = compile_kb(load_kb(project_dir="/nonexistent"))
N_PROGRAMS = 150
SEED = 20260816

# ---------------------------------------------------------------------------
# noise productions per language (syntactically valid in context)
# ---------------------------------------------------------------------------

JAVA_NOISE = [
    "    private Map<String, List<Integer>> m{i} = new HashMap<>();",
    "    private static final int C{i} = 42;",
    "    @Deprecated\n    public <T extends Comparable<T>> T pick{i}(List<T> xs) {{ return xs.get(0); }}",
    "    public void loop{i}() {{ for (String s : new ArrayList<String>()) {{ int n{i} = s.length(); }} }}",
    "    public void lam{i}() {{ Runnable r{i} = () -> {{ int z{i} = 1; }}; r{i}.run(); }}",
    "    public int tern{i}(int a) {{ return a > 0 ? a : -a; }}",
    "    public void tryc{i}() {{ try {{ int x{i} = 1; }} catch (Exception e{i}) {{ }} finally {{ }} }}",
    "    static class Inner{i}<K, V> {{ K k; V v; }}",
    "    public void varargs{i}(String... parts) {{ }}",
    "    public void arr{i}() {{ int[] xs{i} = new int[]{{1, 2, 3}}; }}",
    "    @SuppressWarnings(\"unchecked\")\n    public void annarg{i}() {{ }}",
    "    public void sw{i}(int d) {{ switch (d) {{ case 1: break; default: break; }} }}",
    "    public String txt{i}() {{ return \"a\" + \"b\" + String.valueOf({i}); }}",
    "    public void mref{i}() {{ Runnable r{i} = System.out::println; }}",
    "    public void dw{i}() {{ int n{i} = 0; do {{ n{i}++; }} while (n{i} < 2); }}",
    "    public void cast{i}(Object o) {{ String s{i} = (String) o; }}",
]

JS_NOISE = [
    "const {{a{i}, b{i} = 2}} = ({{a{i}: 1}});",
    "const [x{i}, ...rest{i}] = [1, 2, 3];",
    "const t{i} = `outer ${{1 + 2}} ${{`inner ${{3}}`}}`;",
    "const f{i} = async (u{i}) => {{ return u{i} + 1; }};",
    "class C{i} {{ constructor() {{ this.v = {i}; }} get val() {{ return this.v; }} }}",
    "function* gen{i}() {{ yield {i}; }}",
    "const o{i} = {{ m() {{ return {i}; }}, ['k' + {i}]: true, ...({{z: 1}}) }};",
    "for (const k{i} of [1, 2]) {{ let y{i} = k{i} ** 2; }}",
    "label{i}: for (let i{i} = 0; i{i} < 2; i{i}++) {{ if (i{i}) break label{i}; }}",
    "const re{i} = /ab+c/g;",
    "async function af{i}() {{ const r{i} = await Promise.resolve({i}); return r{i}; }}",
    "const n{i} = obj{i}?.deep?.value ?? 'fallback';",
    "try {{ throw new Error('e{i}'); }} catch ({{message: m{i}}}) {{ }} finally {{ }}",
    "switch ({i} % 2) {{ case 0: break; default: break; }}",
    "export const ex{i} = {i};",
    "const chain{i} = [1,2,3].map(x => x + {i}).filter(x => x > 1).reduce((a, b) => a + b, 0);",
]

PHP_NOISE = [
    "$arr{i} = ['a' => 1, 'b' => [2, 3]];",
    "if ($x{i} ?? false): $y{i} = 1; else: $y{i} = 2; endif;",
    "foreach ([1, 2] as $k{i} => $v{i}): $s{i} = $v{i}; endforeach;",
    "$h{i} = <<<EOT\nline one {i}\nline two\nEOT;",
    "$fn{i} = function ($a{i}) use (&$arr{i}) {{ return $a{i}; }};",
    "$fn2{i} = fn($a{i}) => $a{i} * 2;",
    "class C{i} {{ public ?string $p{i} = null; public function m{i}(): int {{ return {i}; }} }}",
    "function t{i}(int ...$xs{i}): array {{ return $xs{i}; }}",
    "switch ({i} % 2) {{ case 0: $e{i} = true; break; default: $e{i} = false; }}",
    "$s{i} = \"interp {{$arr{i}['a']}} done\";",
    "$m{i} = match({i} % 2) {{ 0 => 'even', default => 'odd' }};",
    "$n{i} = $obj{i}?->prop ?? 'none';",
    "$sp{i} = [...[1, 2], 3];",
    "while (false): $w{i} = 1; endwhile;",
    "$t{i} = $x{i} <=> $y{i};",
]

RUBY_NOISE = [
    "x{i} = <<~EOT\n  heredoc line {i}\n  second\nEOT",
    "arr{i} = [1, 2, 3].map {{ |v| v * 2 }}",
    "[1, 2].each do |n{i}|\n  y{i} = n{i} + 1\nend",
    "h{i} = {{ a: 1, 'b' => [2, 3] }}",
    "class C{i}\n  attr_accessor :v{i}\n  def m{i}(*args, **kw)\n    args.size\n  end\nend",
    "module M{i}\n  CONST{i} = {i}\nend",
    "s{i} = \"interp #{{1 + {i}}} done\"",
    "z{i} = (1..{i}).select {{ |q| q.odd? }}",
    "unless false\n  w{i} = :sym{i}\nend",
    "r{i} = /pat{i}+/",
    "sn{i} = obj{i}&.method{i}&.chain",
    "case {i} % 2\nwhen 0 then c{i} = 'even'\nelse c{i} = 'odd'\nend",
    "d{i} = ->(x) {{ x * {i} }}",
    "begin\n  b{i} = 1\nrescue => e{i}\n  b{i} = 2\nensure\n  b{i} = 3\nend",
    "pct{i} = %w[one two three]",
    "t{i} = 1 if {i}.even?",
]

# planted flows: (content-template, sink substring expected in a finding)
PLANT = {
    "java": (
        "    public void handle(HttpServletRequest request, Statement statement) throws Exception {{\n"
        "        String user = request.getParameter(\"q\");\n"
        "        String q = \"SELECT * FROM t WHERE id = '\" + user + \"'\";\n"
        "        statement.executeQuery(q);\n    }}",
        "executeQuery",
    ),
    "javascript": (
        "app.get('/r', (req, res) => {{\n    const p = req.query.cmd;\n    eval(p);\n}});",
        "eval",
    ),
    "php": (
        "$id = $_GET['x'];\n$q = \"SELECT * FROM t WHERE id = \" . $id;\nmysqli_query($conn, $q);",
        "mysqli_query",
    ),
    "ruby": (
        "v = params[:cmd]\nsystem(\"lookup #{{v}}\")",
        "system",
    ),
}


def _fill(tpl: str, i: int) -> str:
    return tpl.format(i=i)


def gen_program(lang: str, rng: random.Random) -> str:
    noise_bank = {"java": JAVA_NOISE, "javascript": JS_NOISE, "php": PHP_NOISE, "ruby": RUBY_NOISE}[lang]
    n = rng.randint(2, 6)
    pieces = [_fill(rng.choice(noise_bank), rng.randint(0, 999)) for _ in range(n)]
    plant, _ = PLANT[lang]
    pos = rng.randint(0, len(pieces))
    pieces.insert(pos, plant.format())
    body = "\n".join(pieces)
    if lang == "java":
        return (
            "import javax.servlet.http.HttpServletRequest;\nimport java.sql.Statement;\n"
            "import java.util.*;\npublic class App {\n" + body + "\n}\n"
        )
    if lang == "php":
        return "<?php\n" + body + "\n?>\n"
    return body + "\n"


def _analyze(lang: str, src: str):
    from dr_source_spark.operators.analyze import analyze_ast

    return analyze_ast(lang, src, _CKB.taint[lang])


# measured recovery floors at commit time (regression gate: a parser change
# that silently loses more planted findings than this fails the suite)
RECOVERY_FLOOR = {"java": 0.95, "javascript": 0.95, "php": 0.95, "ruby": 0.95}

_NOISE = {"java": JAVA_NOISE, "javascript": JS_NOISE, "php": PHP_NOISE, "ruby": RUBY_NOISE}


def _wrap(lang: str, body: str) -> str:
    if lang == "java":
        return (
            "import javax.servlet.http.HttpServletRequest;\nimport java.sql.Statement;\n"
            "import java.util.*;\npublic class App {\n" + body + "\n}\n"
        )
    if lang == "php":
        return "<?php\n" + body + "\n?>\n"
    return body + "\n"


@pytest.mark.parametrize("lang", ["java", "javascript", "php", "ruby"])
def test_each_noise_production_alone_preserves_the_plant(lang):
    """Deterministic isolation: every single noise production placed before
    the planted flow must leave it detectable — pinpoints exactly which
    construct desyncs a parser when one does (this caught the round-2 Java
    generics/lambda/array-initializer bugs)."""
    plant, sink = PLANT[lang]
    for j, noise in enumerate(_NOISE[lang]):
        src = _wrap(lang, _fill(noise, 7) + "\n" + plant.format())
        found = _analyze(lang, src)
        ok = any(f.get("sink") and sink in f["sink"] for f in found)
        assert ok, f"{lang} noise[{j}] kills the planted flow: {noise[:70]!r}"


@pytest.mark.parametrize("lang", ["java", "javascript", "php", "ruby"])
def test_grammar_fuzz_no_crash_deterministic_and_recovers_plant(lang):
    rng = random.Random(SEED)
    recovered = 0
    key = lambda f: (f["line"], f["vuln_type"], f["message"], tuple(f["trace"]))  # noqa: E731
    for _ in range(N_PROGRAMS):
        src = gen_program(lang, rng)
        first = _analyze(lang, src)   # property 1: never raises
        second = _analyze(lang, src)
        assert [key(f) for f in first] == [key(f) for f in second]  # property 2
        sink = PLANT[lang][1]
        if any(f.get("sink") and sink in f["sink"] for f in first):
            recovered += 1
    rate = recovered / N_PROGRAMS
    print(f"\n{lang}: planted-flow recovery rate = {rate:.3f} over {N_PROGRAMS} programs")
    assert rate >= RECOVERY_FLOOR[lang], f"{lang} recovery {rate} below floor"


@pytest.mark.parametrize("lang", ["java", "javascript", "php", "ruby"])
def test_pathological_nesting_never_crashes(lang):
    """Deeply nested expressions must degrade (RecursionError caught, [] or
    partial results), never crash an executor batch."""
    deep_expr = "(" * 4000 + "1" + ")" * 4000
    bodies = {
        "java": f"public class A {{ public void m() {{ int x = {deep_expr}; }} }}",
        "javascript": f"const x = {deep_expr};",
        "php": f"<?php $x = {deep_expr}; ?>",
        "ruby": f"x = {deep_expr}",
    }
    out = _analyze(lang, bodies[lang])
    assert isinstance(out, list)

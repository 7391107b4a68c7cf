"""Deterministic synthetic code corpus for scale benchmarks.

Derives a source_files table from the driver's ``documents`` parquet (the
sanctioned input — no external or random data): each document row becomes a
source file whose content is a fixture-shaped template with identifiers
mutated by ``doc_id`` (seeded, reproducible), cycling across languages so
every detector tier is exercised. Repo assignment is heavy-tailed
(repo k owns ~2k+1 files) to exercise skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small template bank, one per language tier. `§N§` is the per-row mutation
# point; `§W§` takes a corpus word so content correlates with the input row.
_TEMPLATES = [
    (
        "java",
        "src/App§N§.java",
        """import javax.servlet.http.HttpServletRequest;
import java.sql.Statement;
public class App§N§ {
    public void handle§N§(HttpServletRequest request, Statement statement) throws Exception {
        String user§N§ = request.getParameter("§W§");
        String q§N§ = "SELECT * FROM §W§ WHERE id = '" + user§N§ + "'";
        statement.executeQuery(q§N§);
        String safe§N§ = "SELECT 1";
        statement.executeQuery(safe§N§);
    }
}
""",
    ),
    (
        "python",
        "src/app§N§.py",
        """import os
from flask import request

def handle§N§():
    cmd§N§ = request.args.get("§W§")
    os.system(cmd§N§)

def safe§N§():
    fixed = "echo §W§"
    os.system(fixed)
""",
    ),
    (
        "javascript",
        "src/app§N§.js",
        """const express = require('express');
const app = express();
app.get('/r§N§', (req, res) => {
    const p§N§ = req.query.§W§;
    eval(p§N§);
    res.send('ok');
});
""",
    ),
    (
        "php",
        "src/page§N§.php",
        """<?php
$id§N§ = $_GET['§W§'];
$q§N§ = "SELECT * FROM §W§ WHERE id = " . $id§N§;
mysqli_query($conn, $q§N§);
$safe§N§ = "static";
echo "hello";
?>
""",
    ),
    (
        "ruby",
        "src/ctl§N§.rb",
        """class Ctl§N§
  def index§N§
    v§N§ = params[:§W§]
    system("lookup #{v§N§}")
    safe§N§ = "ls"
    system(safe§N§)
  end
end
""",
    ),
    (
        "other",
        "conf/settings§N§.ini",
        """[app§N§]
password = "supersecretvalue§N§"
endpoint = "§W§"
DEBUG = True
""",
    ),
    # --- templates 6..9: inter-file (B7), Java framework mappers (B8), and
    # structural-Django (B9) coverage for the flagship oracle. §M§ = doc_id-1:
    # the caller template (7) invokes the helper DEFINED IN ANOTHER DOC'S
    # FILE (template 6, always the immediately preceding doc), so the
    # flagship value-hash oracle now fails if the symbol-index job, the
    # broadcast, or depth-limited call simulation breaks.
    (
        "java",
        "src/DbHelper§N§.java",
        """import java.sql.Statement;
public class DbHelper§N§ {
    public void runQuery§N§(Statement st, String q) throws Exception {
        st.executeQuery(q);
    }
}
""",
    ),
    (
        "java",
        "src/Ctl§N§.java",
        """import javax.servlet.http.HttpServletRequest;
import java.sql.Statement;
public class Ctl§N§ {
    public void go§N§(HttpServletRequest request, Statement statement) throws Exception {
        String in§N§ = request.getParameter("§W§");
        runQuery§M§(statement, in§N§);
    }
}
""",
    ),
    (
        "java",
        "src/Svc§N§.java",
        """import org.springframework.web.bind.annotation.RequestParam;
public class Svc§N§ {
    public void list§N§(@RequestParam String p§N§, javax.persistence.EntityManager em) {
        String h§N§ = "FROM §W§ WHERE name = '" + p§N§ + "'";
        em.createQuery(h§N§);
    }
}
""",
    ),
    (
        "python",
        "src/forms§N§.py",
        """from django import forms

class Profile§N§Form(forms.ModelForm):
    class Meta:
        model = Profile§N§
        fields = '__all__'
""",
    ),
]


# ---------------------------------------------------------------------------
# Expected pipeline output per template — the flagship's SQL oracle.
#
# Because every synthesized file is a fixed template with only {N} (= doc_id)
# and {W} (= sanitized 3rd corpus word) substituted, the full extract()
# pipeline emits a CONSTANT triple set per template, parameterized by N/W.
# tests/test_kg_oracle_completeness.py proves this exhaustively: it runs the
# real detector stack over every distinct W value present in the driver
# corpora (all SFs share the same 30-word vocabulary) and asserts the finding
# set equals these constants — so the DuckDB oracle below derives the exact
# expected output from the documents table without running any detector.
#
# Row format: (frag_t, pred, obj_t, line, trace_t); subj = repo:path@commit
# + frag. {N}/{W} are substitution points.
# ---------------------------------------------------------------------------

_T_JAVA = "Tainted by getParameter at line 5 -> Propagated to q{N} at line 6"
_T_PY = "Tainted by request.args.get at line 5"
_T_JS = "Tainted by req.query.{W} at line 4"
_T_PHP = "Tainted by $_GET[] at line 2 -> Propagated to $q{N} at line 3"
_T_RB = "Tainted by params at line 3"

EXPECTED_TRIPLES = {
    0: ("src/App{N}.java", [
        ("", "HAS_VULN", "CWE-89", 7, _T_JAVA),
        ("#var:q{N}", "FLOWS_TO", "executeQuery@L7", 7, _T_JAVA),
        ("#var:q{N}", "TAINTED_BY", "Tainted by getParameter at line 5", 7, _T_JAVA),
    ]),
    1: ("src/app{N}.py", [
        ("", "HAS_VULN", "CWE-78", 6, _T_PY),
        ("#var:cmd{N}", "FLOWS_TO", "os.system@L6", 6, _T_PY),
        ("#var:cmd{N}", "TAINTED_BY", _T_PY, 6, _T_PY),
    ]),
    2: ("src/app{N}.js", [
        ("", "HAS_VULN", "CWE-78", 5, _T_JS),
        ("#var:p{N}", "FLOWS_TO", "eval@L5", 5, _T_JS),
        ("#var:p{N}", "TAINTED_BY", _T_JS, 5, _T_JS),
    ]),
    3: ("src/page{N}.php", [
        ("", "HAS_VULN", "CWE-89", 4, _T_PHP),
        ("#var:$q{N}", "FLOWS_TO", "mysqli_query@L4", 4, _T_PHP),
        ("#var:$q{N}", "TAINTED_BY", "Tainted by $_GET[] at line 2", 4, _T_PHP),
    ]),
    4: ("src/ctl{N}.rb", [
        ("", "HAS_VULN", "CWE-78", 4, _T_RB),
        ("#var:v{N}", "FLOWS_TO", "system@L4", 4, _T_RB),
        ("#var:v{N}", "TAINTED_BY", _T_RB, 4, _T_RB),
    ]),
    5: ("conf/settings{N}.ini", [
        ("", "HAS_VULN", "CWE-16", 4, ""),
        ("", "HAS_VULN", "CWE-798", 2, ""),
        ("#L2", "MATCHES_RULE", "SEC-GENERIC-001", 2, ""),
        ("#L4", "MATCHES_RULE", "CFG-PY-DEBUG", 4, ""),
    ]),
}

# Cross-file flow (template 7): the finding's variable/line come from the
# CALLEE (DbHelper{M}.java) — constant per template because the callee shape
# is fixed; the trace records the hand-off (reference inter-file semantics,
# tests/test_inter_file_analysis.py:24-35).
_T_IF = ("Tainted by getParameter at line 5 -> "
         "Passed to runQuery{M}() in DbHelper{M}.java at line 6")
# Framework mapper flow (template 8): @RequestParam = SpringBootMapper
# source; em.createQuery = Hibernate mapper sink, which fires during EVERY
# category pass (reference frameworks.py wiring — B8), one finding per
# taint category:
_T_FW = "Tainted by SpringBootMapper at line 3 -> Propagated to h{N} at line 4"
_FW_CATS = [
    ("SQL_INJECTION", "CWE-89", "HIGH"),
    ("COMMAND_INJECTION", "CWE-78", "CRITICAL"),
    ("SSTI", "CWE-1336", "HIGH"),
    ("XSS", "CWE-79", "HIGH"),
    ("SSRF", "CWE-918", "HIGH"),
    ("OPEN_REDIRECT", "CWE-601", "MEDIUM"),
    ("INSECURE_DESERIALIZATION", "CWE-502", "CRITICAL"),
    ("PATH_TRAVERSAL", "CWE-22", "HIGH"),
    ("INSECURE_TOKEN_GENERATION", "CWE-330", "HIGH"),
    ("LOG_INJECTION", "CWE-117", "LOW"),
    ("PII_LEAKAGE", "CWE-201", "MEDIUM"),
]
_FW_SINK = "SQL_INJECTION (HibernateMapper)"
_FW_MSG = f"Sink method '{_FW_SINK}' called with tainted variable 'h{{N}}'"

EXPECTED_TRIPLES[6] = ("src/DbHelper{N}.java", [])  # helper alone: no flow
EXPECTED_TRIPLES[7] = ("src/Ctl{N}.java", [
    ("", "HAS_VULN", "CWE-89", 4, _T_IF),
    ("#var:q", "FLOWS_TO", "executeQuery@L4", 4, _T_IF),
    ("#var:q", "TAINTED_BY", "Tainted by getParameter at line 5", 4, _T_IF),
])
EXPECTED_TRIPLES[8] = ("src/Svc{N}.java",
    [("", "HAS_VULN", cwe, 5, _T_FW) for _cat, cwe, _sev in _FW_CATS]
    + [("#var:h{N}", "FLOWS_TO", f"{_FW_SINK}@L5", 5, _T_FW)] * len(_FW_CATS)
    + [("#var:h{N}", "TAINTED_BY", "Tainted by SpringBootMapper at line 3", 5, _T_FW)] * len(_FW_CATS))
EXPECTED_TRIPLES[9] = ("src/forms{N}.py", [
    ("", "HAS_VULN", "CWE-915", 6, ""),
])


# Full per-template finding constants (superset of the triple constants —
# message/severity/variable/sink included), verified exhaustively per corpus
# word by tests/test_kg_oracle_completeness.py. Row format:
# (base_type, line, message_t, variable_t, sink, severity, trace_t).
EXPECTED_FINDINGS = {
    0: [("SQL_INJECTION", 7, "Sink method 'executeQuery' called with tainted variable 'q{N}'",
         "q{N}", "executeQuery", "HIGH", _T_JAVA)],
    1: [("COMMAND_INJECTION", 6, "Taint flow from source to sink 'os.system' via variable 'cmd{N}'",
         "cmd{N}", "os.system", "HIGH", _T_PY)],
    2: [("COMMAND_INJECTION", 5, "Sink method 'eval' called with tainted var 'p{N}'",
         "p{N}", "eval", "CRITICAL", _T_JS)],
    3: [("SQL_INJECTION", 4, "Sink function 'mysqli_query' called with tainted var '$q{N}'",
         "$q{N}", "mysqli_query", "HIGH", _T_PHP)],
    4: [("COMMAND_INJECTION", 4, "Sink method 'system' called with tainted var 'v{N}'",
         "v{N}", "system", "CRITICAL", _T_RB)],
    5: [("HARDCODED_SECRET", 2, "(SEC-GENERIC-001) Generic high-entropy password or secret.",
         None, None, "MEDIUM", ""),
        ("INSECURE_CONFIG", 4, "(CFG-PY-DEBUG) Debug mode enabled in Python web framework (Flask/Django).",
         None, None, "MEDIUM", "")],
    6: [],
    7: [("SQL_INJECTION", 4, "Sink method 'executeQuery' called with tainted variable 'q'",
         "q", "executeQuery", "HIGH", _T_IF)],
    8: [(cat, 5, _FW_MSG, "h{N}", _FW_SINK, sev, _T_FW) for cat, _cwe, sev in _FW_CATS],
    9: [("MASS_ASSIGNMENT", 6, "Django ModelForm with fields = '__all__' is vulnerable to mass assignment.",
         "structural", None, "HIGH", "")],
}


def _docs_cte() -> str:
    """Shared oracle CTE deriving per-doc substitutions from `documents`:
    n = doc_id, m = doc_id - 1 (the inter-file companion), w = sanitized 3rd
    corpus word, tpl = doc_id mod #templates."""
    return f"""docs AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) AS n,
         CAST(doc_id - 1 AS VARCHAR) AS m,
         regexp_replace(coalesce(string_split(text, ' ')[3], 'field'),
                        '[^A-Za-z0-9_]', 'x', 'g') AS w,
         'repo_' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR) AS repo,
         CAST(doc_id % {len(_TEMPLATES)} AS INT) AS tpl
  FROM documents
)"""


def _sub_sql(expr: str) -> str:
    """SQL expression substituting {N}/{W}/{M} in a template column."""
    return "replace(replace(replace(" + expr + ", '{N}', d.n), '{W}', d.w), '{M}', d.m)"


def kg_canonicalize_oracle_sql() -> str:
    """Oracle for canonicalize_findings over the flagship findings: each
    synthesized file's findings are template constants, one per
    (repo, path, commit, base_type, line_span) key → the canonical row is
    the finding itself with n_variants = 1."""
    commit = "bench"
    line_span = 1
    rows = []
    for tpl, (path_t, _) in EXPECTED_TRIPLES.items():
        for base_type, line, msg_t, var_t, sink, sev, trace_t in EXPECTED_FINDINGS[tpl]:
            var_sql = _sq(var_t) if var_t is not None else "CAST(NULL AS VARCHAR)"
            sink_sql = _sq(sink) if sink is not None else "CAST(NULL AS VARCHAR)"
            rows.append(
                f"({tpl}, {_sq(path_t)}, {_sq(base_type)}, {line}, {_sq(msg_t)}, "
                f"{var_sql}, {sink_sql}, {_sq(sev)}, {_sq(trace_t)})"
            )
    values = ",\n  ".join(rows)
    return f"""
WITH {_docs_cte()},
expected(tpl, path_t, base_type, line, message_t, variable_t, sink, severity, trace_t) AS (VALUES
  {values})
SELECT d.repo,
       {_sub_sql('e.path_t')} AS path,
       '{commit}' AS commit,
       e.base_type,
       CAST(e.line // {line_span} AS BIGINT) AS line_span,
       e.line,
       {_sub_sql('e.message_t')} AS message,
       {_sub_sql('e.variable_t')} AS variable,
       e.sink,
       e.severity,
       {_sub_sql('e.trace_t')} AS trace,
       CAST(1 AS BIGINT) AS n_variants
FROM docs d JOIN expected e ON e.tpl = d.tpl
"""


def render_template(tpl_idx: int, doc_id: int, word: str) -> tuple[str, str]:
    """(path, content) for one synthesized file — the pure-Python twin of the
    Spark expression in synth_code_corpus, used by the completeness test."""
    _lang, path_tpl, content_tpl = _TEMPLATES[tpl_idx]
    sid, mid = str(doc_id), str(doc_id - 1)
    sub = lambda s: s.replace("§W§", word).replace("§N§", sid).replace("§M§", mid)  # noqa: E731
    return (sub(path_tpl), sub(content_tpl))


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def kg_triples_oracle_sql(run_id: str = "driver", commit: str = "bench") -> str:
    """DuckDB SQL deriving the flagship extract() triples from `documents`."""
    rows = []
    for tpl, (path_t, triples) in EXPECTED_TRIPLES.items():
        for frag_t, pred, obj_t, line, trace_t in triples:
            rows.append(
                f"({tpl}, {_sq(path_t)}, {_sq(frag_t)}, {_sq(pred)}, "
                f"{_sq(obj_t)}, {line}, {_sq(trace_t)})"
            )
    values = ",\n  ".join(rows)
    return f"""
WITH {_docs_cte()},
expected(tpl, path_t, frag_t, pred, obj_t, line, trace_t) AS (VALUES
  {values})
SELECT d.repo || ':' || {_sub_sql('e.path_t')}
         || '@{commit}'
         || {_sub_sql('e.frag_t')} AS subj,
       e.pred,
       {_sub_sql('e.obj_t')} AS obj,
       e.line,
       {_sub_sql('e.trace_t')} AS trace,
       '{run_id}' AS run_id
FROM docs d JOIN expected e ON e.tpl = d.tpl
"""


def kg_edges_oracle_sql(run_id: str = "driver", commit: str = "bench") -> str:
    """Edges table oracle: distinct (src, pred, dst, line) over the triples."""
    return (
        "SELECT DISTINCT subj AS src, pred, obj AS dst, line FROM (\n"
        + kg_triples_oracle_sql(run_id, commit)
        + "\n)"
    )


def kg_nodes_oracle_sql() -> str:
    """Nodes table oracle: distinct subj∪obj with the kind classification of
    operators/triples.py:triples_to_nodes_edges (same precedence order)."""
    return f"""
WITH t AS ({kg_triples_oracle_sql()}),
ids AS (SELECT subj AS node_id FROM t UNION SELECT obj FROM t)
SELECT node_id,
       CASE WHEN regexp_matches(node_id, '#var:') THEN 'entity'
            WHEN regexp_matches(node_id, '#L[0-9]+$') THEN 'file_line'
            WHEN regexp_matches(node_id, '^CWE-') THEN 'cwe'
            WHEN regexp_matches(node_id, '@L[0-9]+$') THEN 'sink'
            WHEN regexp_matches(node_id, ':.*@') THEN 'file'
            ELSE 'rule' END AS kind,
       node_id AS label
FROM ids
"""


def synth_malformed_corpus(documents: DataFrame) -> DataFrame:
    """documents → one Python file per doc, with docs where
    ``doc_id % broken_mod == broken_rem`` deliberately UNPARSEABLE
    (guaranteed SyntaxError). Drives the ``tier_error_rate`` driver query:
    the expected ast-tier error count is a pure SQL predicate over
    documents, so parse-loss observability itself gets a value oracle."""
    broken_mod = 5
    broken_rem = 3
    sid = F.col("doc_id").cast("string")
    word = F.regexp_replace(
        F.coalesce(F.element_at(F.split(F.col("text"), " "), 3), F.lit("field")),
        r"[^A-Za-z0-9_]", "x",
    )
    broken = F.concat(
        F.lit("def broken"), sid, F.lit("(:\n    os.system(\nx = '"), word, F.lit("'\n")
    )
    valid = F.concat(F.lit("v"), sid, F.lit(" = \""), word, F.lit("\"\n"))
    is_broken = F.pmod(F.col("doc_id"), F.lit(broken_mod)) == broken_rem
    return documents.select(
        F.lit("errprobe").alias("repo"),
        F.concat(F.lit("src/f"), sid, F.lit(".py")).alias("path"),
        F.lit("bench").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.when(is_broken, broken).otherwise(valid).alias("content"),
    )


def synth_code_corpus(
    documents: DataFrame, commit: str = "bench", copies: int = 1, templates: int = 0
) -> DataFrame:
    """documents(doc_id, text, ...) → source_files, ``copies`` files per
    document (doc_key = doc_id*copies + c keeps ids unique/deterministic).

    templates=N restricts to the first N templates (doc_id % N selection).
    templates=6 reproduces the round-1/2 corpus byte-for-byte — bench.py
    pins its headline to that shape so throughput stays comparable across
    rounds even as the full corpus (default: all templates, incl. the
    heavier inter-file/framework ones) grows."""
    n_templates = templates or len(_TEMPLATES)
    # Widen BEFORE content expansion (round 6): the documents parquet is a
    # single row group at every local SF, so the scan stage is 1-2 tasks —
    # and everything Catalyst computes below the exchange runs there,
    # single-threaded, on EVERY kg_extract/detector_scan materialization.
    # Two consequences drive the shape below:
    #   * the narrow (doc_id, text, path) rows are repartitioned by doc_id
    #     (stable, uniform key — deterministic under retries, guide §2.5)
    #     so the heavy per-row content concat runs at full width, and
    #     downstream ensure_min_parallelism recognizes the existing width
    #     instead of paying a second content-carrying shuffle;
    #   * ``path`` is materialized as a real column BEFORE the exchange:
    #     downstream ignore/lang filters reference only the path, and
    #     Catalyst pushes such filters below a repartition — against the
    #     struct form it re-derived the whole template CASE inside each
    #     pushed predicate on the narrow scan side (measured ~0.85 s
    #     single-threaded at sf1); against a materialized cheap column the
    #     pushed filters cost two regexes over 50 k short strings.
    sc = documents.sparkSession.sparkContext
    documents = documents.select("doc_id", "text")
    if copies > 1:
        documents = documents.select(
            "doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("_copy")
        ).select((F.col("doc_id") * copies + F.col("_copy")).alias("doc_id"), "text")
    word = F.coalesce(F.element_at(F.split(F.col("text"), " "), 3), F.lit("field"))
    word = F.regexp_replace(word, r"[^A-Za-z0-9_]", "x")
    sid = F.col("doc_id").cast("string")
    mid = (F.col("doc_id") - 1).cast("string")

    import re as _re

    _marker = _re.compile("(§N§|§W§|§M§)")

    def _tpl_expr(tpl: str):
        subs = {"§N§": sid, "§W§": word, "§M§": mid}
        parts = [subs.get(piece, None) if piece in subs else F.lit(piece)
                 for piece in _marker.split(tpl) if piece != ""]
        return F.concat(*parts)

    def _case(exprs):
        out = None
        for i, e in enumerate(exprs):
            cond = F.pmod(F.col("doc_id"), F.lit(n_templates)) == i
            out = F.when(cond, e) if out is None else out.when(cond, e)
        return out

    # only the selected templates: unreachable when-branches for templates
    # >= n_templates would still be compiled into the generated code (10
    # large concat expressions instead of 6), measurably slowing the fused
    # corpus→detector stage (the round-3 detector_scan regression)
    selected = _TEMPLATES[:n_templates]
    path_case = _case([_tpl_expr(p) for _lang, p, _c in selected])
    pre = documents.select("doc_id", "text", path_case.alias("path")).repartition(
        sc.defaultParallelism, "doc_id"
    )
    content_case = _case([_tpl_expr(c) for _lang, _p, c in selected])
    # heavy-tailed repos: repo k owns ~2k+1 files (k = floor(sqrt(doc_id)))
    repo = F.concat(F.lit("repo_"), F.floor(F.sqrt(F.col("doc_id"))).cast("string"))
    return pre.select(
        repo.alias("repo"),
        "path",
        F.lit(commit).alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        content_case.alias("content"),
    )


def kg_triples_diff_oracle_sql() -> str:
    """Oracle for the incremental-KG diff query: v1 = the 6-template corpus
    over all documents; v2 = v1 minus every 5th doc plus every 13th doc
    re-synthesized at doc_id + 1_000_000. Only templates < 6 (no inter-file
    {M} companions, which need contiguous doc_ids). Diff rows carry
    change = 'removed' (v1-only) / 'added' (v2-only); since an added doc's
    id (and therefore its paths/vars) is new, added and removed sets never
    overlap."""
    commit = "bench"
    rows = []
    for tpl, (path_t, triples) in EXPECTED_TRIPLES.items():
        if tpl >= 6:
            continue
        for frag_t, pred, obj_t, line, trace_t in triples:
            rows.append(
                f"({tpl}, {_sq(path_t)}, {_sq(frag_t)}, {_sq(pred)}, "
                f"{_sq(obj_t)}, {line}, {_sq(trace_t)})"
            )
    values = ",\n  ".join(rows)

    def docs_cte(name: str, src: str) -> str:
        return f"""{name} AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) AS n,
         CAST(doc_id - 1 AS VARCHAR) AS m,
         regexp_replace(coalesce(string_split(text, ' ')[3], 'field'),
                        '[^A-Za-z0-9_]', 'x', 'g') AS w,
         'repo_' || CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR) AS repo,
         CAST(doc_id % 6 AS INT) AS tpl
  FROM ({src})
)"""

    def triples_cte(name: str, docs: str) -> str:
        return f"""{name} AS (
  SELECT d.repo || ':' || {_sub_sql('e.path_t')} || '@{commit}' || {_sub_sql('e.frag_t')} AS subj,
         e.pred,
         {_sub_sql('e.obj_t')} AS obj,
         e.line,
         {_sub_sql('e.trace_t')} AS trace
  FROM {docs} d JOIN expected e ON e.tpl = d.tpl
)"""

    return f"""
WITH {docs_cte('d1', 'SELECT doc_id, text FROM documents')},
{docs_cte('d2', 'SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0 '
               'UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0')},
expected(tpl, path_t, frag_t, pred, obj_t, line, trace_t) AS (VALUES
  {values}),
{triples_cte('t1', 'd1')},
{triples_cte('t2', 'd2')}
SELECT *, 'removed' AS change FROM (SELECT * FROM t1 EXCEPT SELECT * FROM t2)
UNION ALL
SELECT *, 'added' AS change FROM (SELECT * FROM t2 EXCEPT SELECT * FROM t1)
"""

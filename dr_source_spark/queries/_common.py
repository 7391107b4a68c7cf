"""Helpers shared by two or more query families, and the one owner of
what registry queries leave persisted."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..pipeline import ExtractionResult, extract
from ..sources.synth import synth_code_corpus
from ..training.dedup import LSH_BANDS, LSH_CAP, LSH_HASHES, minhash_family
from ..training.text import LICENSE_MARKERS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


class PersistedFrames:
    """The one owner of what registry queries leave persisted: the shared
    extraction every ``kg_*`` query reads, and the ``ExtractionResult``s
    whose lazy outputs a query returns (``kg_triples_diff``,
    ``tier_error_rate``), so their input and detector caches outlive the
    call. Everything held belongs to one ``(session, sf_dir)``: a query for
    another evicts it, and ``release()`` frees it all."""

    def __init__(self) -> None:
        self._key: tuple[int, str] | None = None
        self._kg: ExtractionResult | None = None
        self._held: dict[str, tuple[ExtractionResult, ...]] = {}

    def _scope(self, spark: SparkSession, sf_dir: str) -> None:
        key = (id(spark), sf_dir)
        if key != self._key:
            self.release()
            self._key = key

    def kg_extraction(self, spark: SparkSession, sf_dir: str) -> ExtractionResult:
        """The flagship extraction over the synthesized code corpus, run
        once per ``(session, sf_dir)``. Its findings and triples stay
        cached; its input and detector caches are released as soon as the
        findings are materialized."""
        self._scope(spark, sf_dir)
        if self._kg is None:
            corpus = synth_code_corpus(_t(spark, sf_dir, "documents"))
            res = extract(spark, corpus, run_id="driver")
            # own caches for the outputs the queries read: they must outlive
            # the cleanup() below, which drops extract()'s detector cache too
            res.findings = res.findings.persist()
            res.triples = res.triples.persist()
            res.findings.count()
            res.cleanup()
            self._kg = res
        return self._kg

    def hold(
        self, spark: SparkSession, sf_dir: str, query: str, *results: ExtractionResult
    ) -> None:
        """Own the caches of ``results``, whose lazy outputs ``query``
        returns; a re-run of the same query frees the previous ones."""
        self._scope(spark, sf_dir)
        _free(self._held.pop(query, ()))
        self._held[query] = results

    def release(self) -> None:
        """Unpersist every frame held."""
        _free([self._kg] if self._kg is not None else [])
        for results in self._held.values():
            _free(results)
        self._kg = None
        self._held = {}


def _free(results) -> None:
    """Unpersist what ``extract()`` cached for each result (input and
    detector output) and what the kg extraction cached on top of it."""
    for res in results:
        try:
            res.cleanup()
            res.findings.unpersist()
            res.triples.unpersist()
        except Py4JError:  # the session that cached them was stopped
            pass


PERSISTED = PersistedFrames()


_DEC = "decimal(18,4)"


def _duck_minhash_base(col: str) -> str:
    """DuckDB expression for the engine's 32-bit minhash base hash: the
    first 8 hex chars of md5 as an integer, nibble-by-nibble (DuckDB has
    no hex→int conv; every term cast to BIGINT so integer multiplication
    cannot overflow-error)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({col}), {k}, 1)) - 1)::BIGINT * {16 ** (8 - k)}"
        for k in range(1, 9)
    )
    return f"({terms})"


def _duck_minhash_seeds(num_hashes: int) -> str:
    """seeds(seed, a, b) VALUES list — the SAME deterministic family the
    engine uses (training/dedup.py:minhash_family), embedded as literals."""

    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_family(num_hashes))
    )
    return f"seeds(seed, a, b) AS (VALUES {rows})"


_MINHASH_P = 4294967311  # keep in sync with training/dedup.py:_MINHASH_P


_WORDS_CTE = r"""words AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents
  ) WHERE w <> ''
)"""


def _lsh_pairs_ctes(source: str = "documents", prelude: str = "") -> str:
    """source/prelude let a caller run the LSH pipeline over an augmented
    corpus: prelude defines extra CTEs (e.g. planted rows unioned onto
    documents) and source names the CTE the words scan reads."""
    num_hashes, bands, cap = LSH_HASHES, LSH_BANDS, LSH_CAP
    r = num_hashes // bands
    words_cte = _WORDS_CTE.replace("FROM documents", f"FROM {source}")
    return f"""WITH {prelude}{words_cte}, {_duck_minhash_seeds(num_hashes)},
base AS (SELECT doc_id, {_duck_minhash_base('w')} AS h FROM words),
sigs AS (
  SELECT doc_id, seed, CAST(seed // {r} AS INT) AS band,
         min((a * h + b) % {_MINHASH_P}) AS minhash
  FROM base CROSS JOIN seeds GROUP BY doc_id, seed
),
band_sigs AS (
  SELECT doc_id, band,
         string_agg(minhash::VARCHAR, '|' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY doc_id, band
),
kept AS (
  SELECT band, band_sig FROM band_sigs GROUP BY band, band_sig HAVING count(*) <= {cap}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM band_sigs l
  JOIN kept k ON l.band = k.band AND l.band_sig = k.band_sig
  JOIN band_sigs r ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
)"""


_CMS_W, _CMS_TOP = 256, 20


# shared HDR fragments — the bucket id and [lo, hi] bound formulas used by
# BOTH hdr oracles, mirroring training/sketch.py's exact-integer scheme
# (e >= 4 divides/multiplies by 2^(e-4) instead of forming a *16 product,
# and hi folds its -1 into the sum, so the full int64 domain stays exact)


def _duck_hdr_bucket(v: str) -> str:
    K = 16
    e = f"(length(bin({v})) - 1)"
    base = f"(CAST(1 AS BIGINT) << {e})"
    return (
        f"CASE WHEN {v} <= 0 THEN CAST(-1 AS BIGINT) ELSE "
        f"CAST({e} * {K} AS BIGINT) + "
        f"CASE WHEN {e} >= 4 THEN ({v} - {base}) // (CAST(1 AS BIGINT) << ({e} - 4)) "
        f"ELSE (({v} - {base}) * {K}) // {base} END END"
    )


def _duck_hdr_bounds(b: str = "bucket") -> tuple[str, str]:
    K = 16
    e = f"CAST({b} // {K} AS INT)"
    base = f"(CAST(1 AS BIGINT) << {e})"

    def c(s: str) -> str:
        return (
            f"CASE WHEN {e} >= 4 THEN ({s}) * (CAST(1 AS BIGINT) << ({e} - 4)) "
            f"ELSE (({s}) * {base} + {K - 1}) // {K} END"
        )

    lo = f"CASE WHEN {b} < 0 THEN 0 ELSE {base} + {c(f'({b} % {K})')} END"
    hi = f"CASE WHEN {b} < 0 THEN 0 ELSE {base} - 1 + {c(f'({b} % {K}) + 1')} END"
    return lo, hi


_HDR_LO_SQL, _HDR_HI_SQL = _duck_hdr_bounds()


_JAC_TAIL = """
counts AS (SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS i
  FROM pairs p JOIN words a ON a.doc_id = p.doc_a JOIN words b ON b.doc_id = p.doc_b AND a.w = b.w
  GROUP BY p.doc_a, p.doc_b
),
jac AS (
  SELECT i.doc_a, i.doc_b, round(CAST(i.i AS DOUBLE) / (ca.n + cb.n - i.i), 4) AS jaccard
  FROM inter i JOIN counts ca ON ca.doc_id = i.doc_a JOIN counts cb ON cb.doc_id = i.doc_b
),"""


def dedup_clusters_sql(tail: str = "") -> str:
    # recursive min-label reachability reproduces the component minimum;
    # jac is the ROUNDED verify column so the threshold classifies pairs
    # identically in both engines. ``tail`` turns the final select into a
    # `clusters` CTE and appends further SQL (used by the keep-list
    # oracle, which layers the quality verdict on top).
    threshold = 0.9
    jac_tail = _JAC_TAIL
    final = (
        "SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id\n"
        "FROM walk GROUP BY node"
    )
    prefix = (
        _lsh_pairs_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
        + ","
        + jac_tail
        + f"""
dedges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= {threshold}
  UNION ALL
  SELECT doc_b, doc_a FROM jac WHERE jaccard >= {threshold}
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN dedges e ON e.src = w.node
)
"""
    )
    if not tail:
        return prefix + final
    return prefix + f", clusters AS (\n{final}\n)\n" + tail


def _pagerank_sql_over(
    edges_sql: str, iterations: int = 10, scale: int = 10**12, dp: int = 85
) -> str:
    """Unrolled fixed-point pagerank oracle over ANY (src, dst) edge
    query — shared by kg_pagerank and text_textrank_terms."""
    # AS MATERIALIZED: the CTE chain is referenced from every unrolled
    # iteration — without the hint DuckDB re-inlines (and re-evaluates)
    # the whole edge derivation per reference
    parts = [
        f"WITH kg_e AS MATERIALIZED ({edges_sql}),",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM kg_e),",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY src),",
        "c AS MATERIALIZED (SELECT count(*) AS n FROM nodes),",
        f"pr0 AS MATERIALIZED (SELECT node, CAST({scale} // c.n AS BIGINT) AS rank FROM nodes CROSS JOIN c),",
    ]
    for k in range(1, iterations + 1):
        prev = f"pr{k - 1}"
        parts.append(
            f"dang{k} AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm FROM {prev}"
            f" WHERE node NOT IN (SELECT src FROM deg)),\n"
            f"contrib{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum((r.rank * {dp}) // (100 * deg.d)) AS cb"
            f" FROM e JOIN {prev} r ON e.src = r.node JOIN deg ON deg.src = e.src"
            f" GROUP BY e.dst),\n"
            f"pr{k} AS MATERIALIZED (SELECT nodes.node,"
            f" CAST(({scale} * {100 - dp}) // (100 * c.n)"
            f" + (dang{k}.dm * {dp}) // (100 * c.n)"
            f" + coalesce(contrib{k}.cb, 0) AS BIGINT) AS rank"
            f" FROM nodes CROSS JOIN c CROSS JOIN dang{k}"
            f" LEFT JOIN contrib{k} ON contrib{k}.node = nodes.node),"
        )
    body = "\n".join(parts).rstrip(",")
    return f"{body}\nSELECT node, rank FROM pr{iterations}"


# The (doc_id, pos, token) stream both search oracles read: the same
# lowercased whitespace tokenization every text operator uses, with
# generate_subscripts aligned to unnest for 1-based positions.
_TOK_STREAM_SQL = r"""
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\s+')) AS token,
         generate_subscripts(string_split_regex(lower(trim(coalesce(text, ''))), '\s+'), 1) AS pos
  FROM documents
"""


FINGERPRINT_SQL = f"""
SELECT l_orderkey % 64 AS bucket, count(*)::BIGINT AS n_rows,
       sum({_duck_minhash_base("concat_ws('|', l_orderkey::VARCHAR, l_linenumber::VARCHAR, l_returnflag, l_linestatus)")})::BIGINT AS hash_sum
FROM lineitem GROUP BY 1
"""


def _duck_isqrt(x: str) -> str:
    """DuckDB expression for the exact integer square root of a
    non-negative HUGEINT expression at any magnitude: double seed cast
    straight to HUGEINT (NOT via floor — see isqrt_expr's long-
    saturation trap), two integer-Newton steps, then eight
    short-circuiting CASE comparisons pin the result exactly
    (candidates above the 10^19-1 root ceiling resolve before the c*c
    product can overflow) — operators/stats.py::isqrt_expr, same
    contract."""
    lim = 10**19 - 1
    r0 = f"greatest(CAST(sqrt(CAST(({x}) AS DOUBLE)) AS HUGEINT), 1)"
    r1 = f"(({r0}) + ({x}) // ({r0})) // 2"
    r2 = f"least((({r1}) + ({x}) // ({r1})) // 2, {lim})"
    subs = " - ".join(
        f"(CASE WHEN (({r2}) + {4 - i}) > {lim} THEN 1"
        f" WHEN (({r2}) + {4 - i}) >= 0"
        f" AND (({r2}) + {4 - i}) * (({r2}) + {4 - i}) > ({x})"
        f" THEN 1 ELSE 0 END)"
        for i in range(8)
    )
    return f"(({r2}) + 4 - {subs})"


def corpus_license_screen_sql() -> str:
    # CASE chain generated from the SAME marker list the engine uses —
    # one source of truth, so priority order cannot drift
    whens = "\n    ".join(
        f"WHEN contains(lower(coalesce(text, '')), '{phrase}') THEN '{name}'"
        for name, phrase in LICENSE_MARKERS
    )
    return f"""
SELECT lang,
  CASE
    {whens}
    ELSE 'none' END AS license,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

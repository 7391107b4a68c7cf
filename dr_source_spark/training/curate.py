"""Composed corpus-curation decisions — the operator a training-data
pipeline actually runs: one row per document with a keep/drop decision and
the FIRST-FIRED reason, composing the engine's existing signals
(exact-dup canonicalization, token count, stopword-ratio quality) into a
single deterministic verdict column.

Scale shape: ONE shuffle (the fingerprint groupBy + join-back — the same
shuffle exact dedup costs on its own); every signal column is JVM-side
(split / filter / sha2), no Python anywhere. Reason precedence is fixed
(duplicate > too_short > low_stopword_ratio > kept) so the verdict is
order-free and an ANSI oracle reproduces it cell-for-cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import STOPWORDS

REASON_DUPLICATE = "exact_duplicate"
REASON_TOO_SHORT = "too_short"
REASON_LOW_STOPWORD = "low_stopword_ratio"
REASON_KEPT = "kept"

# the quality floors every verdict surface applies: the one-shot and the
# staged curation paths must agree on them for their keep lists to match
MIN_TOKENS = 5
MIN_STOPWORD_RATIO = 0.05


def quality_reason_expr(text_col, min_tokens: int = MIN_TOKENS):
    """The per-document quality when-chain (too_short > low_stopword_ratio >
    kept) as a Column expression over ``text_col``.

    This is THE verdict definition: batch ``curation_decisions`` layers the
    duplicate check on top of it and the streaming curation query
    (``queries.stream.stream_curation``) consumes it directly, so the two
    paths cannot drift. Null-safe: NULL text is scored as the empty string
    (0 tokens -> too_short) — a curation verdict must exist for every row.
    The empty-token filter makes that literal: splitting a blank string
    yields [''], which would count 1 token and let a blank doc slip past
    too_short at min_tokens=1.
    """
    toks = F.filter(
        F.split(F.trim(F.coalesce(text_col, F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    n_toks = F.size(toks)
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
        / F.greatest(n_toks, F.lit(1)),
        4,
    )
    return (
        F.when(n_toks < min_tokens, F.lit(REASON_TOO_SHORT))
        .when(stop_ratio < MIN_STOPWORD_RATIO, F.lit(REASON_LOW_STOPWORD))
        .otherwise(F.lit(REASON_KEPT))
    )


def curation_decisions(documents: DataFrame) -> DataFrame:
    """(doc_id, reason, keep) for every input document.

    * ``exact_duplicate`` — not the minimum-doc_id representative of its
      whitespace-normalized lowercase sha256 fingerprint group (identical
      normalization to training/dedup.exact_duplicates, so the kept set
      equals that operator's canonical set);
    * ``too_short`` — fewer than ``MIN_TOKENS`` whitespace tokens;
    * ``low_stopword_ratio`` — stopword ratio (rounded to 4 decimals,
      identical expression to text.quality_score) below the floor — the
      cheap Gopher-style "is this prose" screen;
    * ``kept`` — everything else.
    """
    # null-safe: a NULL text must still get a verdict (it fingerprints as
    # the empty string, groups with other empty docs, and falls out as
    # too_short) — a curation table silently missing input rows is how
    # documents escape the pipeline unaudited
    txt = F.coalesce(F.col("text"), F.lit(""))
    norm = F.regexp_replace(F.lower(txt), r"\s+", " ")
    docs = documents.select("doc_id", txt.alias("text"), F.sha2(norm, 256).alias("_fp"))
    canon = docs.groupBy("_fp").agg(F.min("doc_id").alias("_canon"))
    reason = F.when(
        F.col("doc_id") != F.col("_canon"), F.lit(REASON_DUPLICATE)
    ).otherwise(quality_reason_expr(F.col("text")))
    return (
        docs.join(canon, "_fp")
        .select("doc_id", reason.alias("reason"))
        .withColumn("keep", (F.col("reason") == REASON_KEPT).cast("int"))
    )


def final_keep_list(documents: DataFrame) -> DataFrame:
    """The end-of-pipeline verdict: ONE row per document combining
    near-duplicate clustering with the quality screen — reason precedence
    ``near_duplicate`` (not the min-doc_id canonical of its verified
    near-dup cluster) > ``too_short`` > ``low_stopword_ratio`` >
    ``kept``; ``keep`` = reason == 'kept'. This is what a training run
    actually consumes: curation_decisions' exact-dup rule is subsumed by
    the near-dup clusters (exact dups are jaccard-1.0 pairs), and the
    quality when-chain is the SAME quality_reason_expr the batch and
    streaming curation paths share — three verdict surfaces, one
    definition.

    Scale shape: the cluster labels come from the LSH→jaccard→components
    pipeline (never all-pairs, adaptive CC); the quality columns are
    JVM-only; one equi-join on doc_id stitches them."""
    jaccard_threshold = 0.9
    from .dedup import duplicate_clusters

    clusters = duplicate_clusters(documents, jaccard_threshold=jaccard_threshold)
    reason = F.when(
        F.col("cluster_id") != F.col("doc_id"), F.lit("near_duplicate")
    ).otherwise(quality_reason_expr(F.col("text")))
    return (
        documents.select("doc_id", "text")
        .join(clusters, "doc_id")
        .select(
            "doc_id",
            reason.alias("reason"),
            (reason == REASON_KEPT).alias("keep"),
        )
    )


def quality_dup_interaction(documents: DataFrame) -> DataFrame:
    """QUALITY × DUPLICATION interaction audit — "are the duplicates
    also the junk?": every document gets its quality verdict (the
    shared ``quality_reason_expr``, dup layer deliberately NOT
    applied) crossed with whether it belongs to an exact-duplicate
    family (≥ 2 docs sharing the whitespace-normalized lowercase
    sha256 fingerprint — the full family, canonical representative
    included). A corpus where low-quality mass concentrates inside
    dup families dedups almost for free; one where they are
    independent loses real unique content to each filter — this table
    is how you know which corpus you have.

    Output: (quality_reason, is_dup, n_docs, share_bp) — ≤ 6 cells,
    shares of the whole corpus in exact truncated bp.

    Scale shape: one fingerprint groupBy (the exact-dedup shape, text
    never shuffles — only the digest), one join back, one bounded
    cell aggregate; shares window over the cells only.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    norm = F.regexp_replace(F.lower(txt), r"\s+", " ")
    docs = documents.select(
        "doc_id", txt.alias("text"), F.sha2(norm, 256).alias("_fp")
    )
    fam = docs.groupBy("_fp").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    cells = (
        docs.join(fam, "_fp")
        .select(
            quality_reason_expr(F.col("text")).alias("quality_reason"),
            (F.col("_n") >= 2).alias("is_dup"),
        )
        .groupBy("quality_reason", "is_dup")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return cells.select(
        "quality_reason",
        "is_dup",
        "n_docs",
        F.expr(
            "CAST((10000 * n_docs) div (sum(n_docs) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )

"""Inverted-index text search over the documents table.

A training-data pipeline at 100 TB needs to ANSWER QUERIES about its
corpus, not just filter it: "which documents mention these terms",
"where does this exact phrase occur" (e.g. hunting benchmark strings,
license boilerplate, or PII templates beyond fixed regexes). The
classic engine for that is an inverted index; this module builds one
relationally and answers conjunctive and exact-phrase queries over it
with nothing but equi-joins and aggregates.

Design for scale:

* **Row-wise postings, never array-wise.** ``build_postings`` emits one
  ROW per (token, doc_id) — NOT one row per token with a collected
  doc-list array. A hot token ("the") at corpus scale would otherwise
  materialize a single row of hundreds of millions of doc ids in one
  aggregation buffer; row-wise postings shuffle on the (token, doc_id)
  pair and stay skew-safe. A consumer that genuinely wants list form
  can range-partition by token first.
* **Position stream for phrases.** ``token_positions`` keeps the
  (doc_id, pos, token) stream; exact-phrase matching is a k-way
  self-EQUI-join on (doc_id, pos - i) — the relational statement of
  "the i-th phrase term appears i after the first". No nested loop,
  no UDF, and the per-term filters push to the scan.
* **Tokenization parity.** The same lowercased whitespace split every
  text operator in this package uses (``training/text.py``), so the
  DuckDB oracles reproduce every cell with
  ``string_split_regex(lower(text), '\\s+')``.

Reference: the reference engine greps one file at a time in a Python
loop (dr_source/core/scanner.py); an inverted index over the corpus is
what that lookup becomes when the corpus no longer fits one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_positions(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, token) stream; pos is the 1-based token ordinal.

    1-based so the DuckDB oracle's ``generate_subscripts(arr, 1)``
    reproduces it directly. Empty and NULL texts contribute no rows
    (the '' artifact of splitting a blank string is filtered, same as
    token_count's convention).
    """
    toks = F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
    return (
        documents.select("doc_id", F.posexplode(toks).alias("pos0", "token"))
        .filter(F.col("token") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    )


def build_postings(documents: DataFrame) -> DataFrame:
    """The inverted index: one row per (token, doc_id) with term
    frequency and first occurrence position.

    One shuffle, keyed on the (token, doc_id) pair — hot tokens spread
    across as many partitions as they have distinct documents.
    """
    return (
        token_positions(documents)
        .groupBy("token", "doc_id")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


def postings_vocabulary(documents: DataFrame) -> DataFrame:
    """Per-token index statistics: document frequency and total term
    frequency — the df table an IDF weighting or a query planner's
    rarest-first term ordering reads."""
    return (
        build_postings(documents)
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("tf_total"),
        )
    )


def conjunctive_search(documents: DataFrame, terms: list[str]) -> DataFrame:
    """Documents containing ALL of ``terms`` (boolean AND), with the
    summed term frequency as a crude relevance score.

    The term list is a literal IN filter — it pushes to the postings
    scan, so only matching postings ever shuffle; the AND is a groupBy
    counting matched DISTINCT terms (postings are unique per
    (token, doc_id), so count(*) == count(distinct token)). One shuffle
    on doc_id.
    """
    n = len(terms)
    return (
        build_postings(documents)
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum("tf").cast("long").alias("score_tf"),
        )
        .filter(F.col("_nt") == n)
        .select("doc_id", "score_tf")
    )


def phrase_search(documents: DataFrame, phrase: list[str]) -> DataFrame:
    """Documents containing the EXACT consecutive phrase, with match
    count and the first match's 1-based position.

    The i-th term's stream joins on (doc_id, pos - i == anchor pos) —
    a pure equi-join per phrase term after pushing each term's equality
    filter to the position stream. k-term phrase = k-1 hash joins whose
    build sides are the (usually rarer) later terms; no nested loop and
    nothing quadratic.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one term")
    stream = token_positions(documents)
    anchor = (
        stream.filter(F.col("token") == phrase[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    out = anchor
    for i, term in enumerate(phrase[1:], start=1):
        nxt = stream.filter(F.col("token") == term).select(
            F.col("doc_id").alias(f"_d{i}"), (F.col("pos") - i).alias(f"_a{i}")
        )
        out = out.join(
            nxt,
            (out["doc_id"] == nxt[f"_d{i}"]) & (out["p0"] == nxt[f"_a{i}"]),
        ).drop(f"_d{i}", f"_a{i}")
    return out.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("p0").cast("long").alias("first_pos"),
    )


def ranked_search(
    documents: DataFrame, terms: list[str], k: int = 10
) -> DataFrame:
    """BM25-shaped ranked retrieval (OR semantics) in EXACT rational
    arithmetic — the ranking layer on top of the postings family.

    With k1 = 6/5 and b = 3/4 (the standard defaults as exact
    rationals) the per-term score multiplies out to pure integers:

        idf_bp(t)   = ((N - df_t) * 10000) div df_t        (Robertson
                      idf's inner ratio in basis points; the log is a
                      read-time monotone cosmetic — for RANKING, any
                      monotone transform of the ratio orders ties the
                      same way both engines compute them)
        contrib(t,d) = (idf_bp * 44 * A * tf) div
                       (20 * A * tf + 6 * A + 18 * dl * N)

    where N = corpus docs, A = total corpus tokens (so avgdl = A/N and
    the classic denominator tf + k1*(1 - b + b*dl/avgdl) was multiplied
    through by 20*A), dl = doc tokens, tf = term frequency. score(d) =
    sum of contribs. int64 bounds hold to ~10^9-token corpora; at
    larger A, rescale A and dl by a common power of two first (the
    ratio is scale-invariant).

    Deterministic top-k: (score desc, doc_id asc). One narrow join of
    the term postings onto per-doc lengths; N/A/df ride tiny broadcast
    aggregates.
    """
    post = build_postings(documents).filter(F.col("token").isin(*terms))
    stream = token_positions(documents)
    dl = stream.groupBy(F.col("doc_id").alias("_d")).agg(
        F.count("*").cast("long").alias("dl")
    )
    corpus = dl.agg(
        F.count("*").cast("long").alias("_N"), F.sum("dl").cast("long").alias("_A")
    )
    df_t = post.groupBy(F.col("token").alias("_t")).agg(
        F.count("*").cast("long").alias("_df")
    )
    scored = (
        post.join(F.broadcast(df_t), F.col("token") == F.col("_t"))
        .join(dl, F.col("doc_id") == F.col("_d"))
        .crossJoin(F.broadcast(corpus))
        .withColumn("_idf_bp", F.expr("((_N - _df) * 10000) div _df"))
        .withColumn(
            "_contrib",
            F.expr(
                "(_idf_bp * 44 * _A * tf) div (20 * _A * tf + 6 * _A + 18 * dl * _N)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("_contrib").cast("long").alias("score"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def presence_bitmap(documents: DataFrame, group_col: str = "lang") -> DataFrame:
    """Bitmap-index construction: per group, the presence bitmap of doc
    ids packed into 32-bit words — (group, word_idx, word) where bit
    (doc_id % 32) of the word at word_idx = doc_id div 32 is set iff
    the doc exists in the group. 32 bits per int64 word so no set bit
    ever reaches the sign bit — engines with checked arithmetic
    (DuckDB errors on 1::BIGINT << 63) and Java's wrapping shifts agree
    on every cell.

    The OLAP filter-acceleration structure: membership tests and
    group-vs-group intersections become bitwise AND/OR over the narrow
    word table instead of row scans, and the index is MERGEABLE
    (bit_or of word tables — the same law the sketch family gates).
    One map-side-combinable aggregate; output size = ceil(max_id/32)
    words per group, independent of row count.
    """
    return (
        documents.select(
            F.col(group_col).alias("grp"),
            F.expr("doc_id div 32").cast("long").alias("word_idx"),
            # pyspark's shiftleft() helper takes a literal int shift;
            # the SQL form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 32 AS INT))").alias("_b"),
        )
        .groupBy("grp", "word_idx")
        .agg(F.bit_or("_b").cast("long").alias("word"))
    )


def collocations(documents: DataFrame, min_count: int = 5) -> DataFrame:
    """Collocation mining: adjacent bigrams scored by an exact-integer
    PMI proxy.

    PMI(x, y) = log( P(xy) / (P(x)P(y)) ); the inner ratio is emitted
    directly in basis points — score_bp = (N * c_xy * 10000) div
    (c_x * c_y) — so every cell is an integer both engines reproduce
    and the log is a read-time cosmetic. score_bp > 10000 means the
    pair co-occurs more than independence predicts.

    Shape at scale: the bigram stream is the positional self-equi-join
    (doc_id, pos + 1); pair and unigram counts are map-side-combined
    aggregates; the unigram table joins back on the token equi-key
    twice. ``min_count`` prunes the hapax tail BEFORE the join-back.
    """
    stream = token_positions(documents)
    uni = stream.groupBy("token").agg(F.count("*").alias("c"))
    n_total = uni.agg(F.sum("c").alias("_N"))
    nxt = stream.select(
        F.col("doc_id").alias("_d"),
        (F.col("pos") - 1).alias("_p"),
        F.col("token").alias("t2"),
    )
    pairs = (
        stream.join(nxt, (stream["doc_id"] == nxt["_d"]) & (stream["pos"] == nxt["_p"]))
        .groupBy(F.col("token").alias("t1"), "t2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    u1 = uni.select(F.col("token").alias("_t1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("token").alias("_t2"), F.col("c").alias("_c2"))
    return (
        pairs.join(u1, F.col("t1") == F.col("_t1"))
        .join(u2, F.col("t2") == F.col("_t2"))
        .crossJoin(F.broadcast(n_total))
        .select(
            "t1",
            "t2",
            "n_pair",
            F.expr("(_N * n_pair * 10000) div (_c1 * _c2)")
            .cast("long")
            .alias("score_bp"),
        )
    )


def rrf_fuse(rankings: list[DataFrame], k: int = 60, top: int = 20) -> DataFrame:
    """Reciprocal-rank fusion of independent (doc_id, rank) rankings:
    score = Σ_lists scale div (k + rank), missing-from-a-list simply
    contributes nothing (the standard RRF convention — no imputed
    floor rank, so adding a list never penalizes docs it omits).

    Integer div keeps the fused score exact cross-engine; the k=60
    damping constant is the original Cormack/Clarke/Buettcher choice.
    Deterministic top-``top`` by (score desc, doc_id).

    Scale shape: a union of narrow (doc_id, contrib) rows + one
    groupBy(doc_id) + a global top-k (TakeOrderedAndProject — never a
    full sort of the corpus).
    """
    scale = 1_000_000
    contribs = None
    for r in rankings:
        c = r.select(
            "doc_id",
            F.expr(f"cast({int(scale)} as bigint) div (cast({int(k)} as bigint) + rank)").alias(
                "contrib"
            ),
        )
        contribs = c if contribs is None else contribs.union(c)
    fused = contribs.groupBy("doc_id").agg(
        F.sum("contrib").cast("long").alias("rrf_score"),
        F.count("*").cast("long").alias("n_lists"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(top)

"""Text-analysis operators for training-data pipelines over a `documents`
table (doc_id, text, lang, source, n_chars). All JVM-side built-ins — no
Python in the hot path; each is expressible in ANSI SQL for oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace/word tokenization counts per document (JVM regexp_count)."""
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\w+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Cheap quality heuristics: length, mean token length, stopword ratio.

    Rounded to fixed decimals so results are engine-portable (oracle parity).
    Token-free text (NULL/empty/whitespace) counts 0 tokens — the ['']
    artifact of splitting a blank string would otherwise report 1 token,
    disagreeing with token_count's regexp-based 0.
    """
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return documents.select(
        "doc_id",
        "lang",
        n_toks.cast("long").alias("n_tokens"),
        F.round(F.length("text") / F.greatest(n_toks, F.lit(1)), 4).alias("avg_token_len"),
        F.round(stop_hits / F.greatest(n_toks, F.lit(1)), 4).alias("stopword_ratio"),
    )


def lang_profile(documents: DataFrame) -> DataFrame:
    """Per-language corpus profile (hash aggregate; partial+final from Catalyst)."""
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# Language-ID marker patterns: high-frequency function words per language
# (public linguistic facts) + CJK codepoint range for zh. Both Java regex
# and RE2 accept these forms, so oracles reproduce the scores exactly.
LANG_MARKERS = [
    ("en", r"(?i)\b(the|and|of|to|in|is|that|for|it|with)\b"),
    ("es", r"(?i)\b(el|los|las|que|y|un|una|por|para|como)\b"),
    ("de", r"(?i)\b(der|die|und|das|nicht|ein|eine|mit|ist|auch)\b"),
    ("fr", r"(?i)\b(le|les|et|des|une|est|dans|pour|qui|vous)\b"),
    ("zh", r"[\x{4e00}-\x{9fff}]"),
]


def _lang_scores_and_decision():
    """(scores dict, best, decision) — the ONE construction of the
    marker-score map and the tie-precedence argmax when-chain. lang_id
    and lang_mismatch both consume it, so the mismatch screen can never
    drift from the lang_id it claims to build on."""
    scores = {
        lang: F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
        for lang, pat in LANG_MARKERS
    }
    best = F.greatest(*scores.values())
    decision = None
    for lang, _ in LANG_MARKERS:
        cond = scores[lang] == best
        decision = (
            F.when(cond, F.lit(lang)) if decision is None else decision.when(cond, F.lit(lang))
        )
    return scores, best, decision


def lang_id(documents: DataFrame) -> DataFrame:
    """Heuristic language identification: per-language marker-hit counts
    (one vectorized JVM regexp_count per language — no Python), argmax with
    a fixed precedence order for ties (the LANG_MARKERS order). Returns the
    per-language scores alongside the decision so downstream filters can
    threshold on confidence."""
    scores, best, decision = _lang_scores_and_decision()
    return documents.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang, _ in LANG_MARKERS],
        decision.alias("lang_id"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: sha256 of normalized text
    (lower, collapsed whitespace). The exact-dedup key.

    NULL text fingerprints as the empty string — the SAME normalization
    curation_decisions applies, so exact_duplicates' canonical set and the
    curation verdicts agree on corpora mixing NULL and '' texts (without
    the coalesce, NULL docs formed their own NULL-key group and each
    became its own canonical while curation marked them duplicates)."""
    norm = F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    return documents.select("doc_id", F.sha2(norm, 256).alias("fingerprint"))


def winnow_fingerprints(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): rolling
    k-gram hashes over the lowercased text, min-sampled per window of ``w``
    consecutive positions → per-doc distinct-fingerprint count + the global
    min as a compact sketch column. Guarantees every shared substring of
    length >= k+w-1 yields at least one shared fingerprint — the positional
    near-dup detector exact dedup and bag-of-words MinHash both miss.

    Hashes are md5 (portable family, same as minhash), so the DuckDB oracle
    reproduces every fingerprint. The positions explode is O(text length)
    rows per doc — inherent to positional fingerprinting; rows are narrow
    (doc_id, pos, 32-char hex) and die into the per-doc aggregate. Short
    texts (< k+w-1 chars) fall back to one partial-window fingerprint so
    every document gets a row."""
    from pyspark.sql.window import Window

    t = F.lower(F.col("text"))
    positions = F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1)))
    grams = documents.select(
        "doc_id", F.explode(positions).alias("pos"), t.alias("_t")
    ).select("doc_id", "pos", F.md5(F.col("_t").substr(F.col("pos"), F.lit(k))).alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    per_doc = Window.partitionBy("doc_id")
    mins = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(win).alias("wmin"),
        F.count("*").over(per_doc).alias("_n"),
    ).filter(F.col("pos") <= F.greatest(F.col("_n") - (w - 1), F.lit(1)))
    return mins.groupBy("doc_id").agg(
        F.countDistinct("wmin").cast("long").alias("n_fingerprints"),
        F.min("wmin").alias("min_fingerprint"),
    )


# BPE-ish pre-tokenizer (GPT-2 shape minus the \s+(?!\S) lookahead, which
# RE2 — the DuckDB oracle dialect — doesn't support): contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace.
# Verified count-identical between Java regex and RE2 on the driver corpus.
BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def repetition_metrics(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    computed entirely ROW-LOCALLY — no explode, no shuffle; at 100 TB this
    stage is a pure map over the scan:

    * dup_line_frac — fraction of lines that are repeats of an earlier
      line: (n_lines - n_distinct_lines) / n_lines.
    * dup_word_frac — same at word granularity.
    * top_bigram_frac — occurrences of the most frequent word bigram over
      total bigrams; the most-frequent count is found by sorting the
      per-row bigram array and folding the longest equal-adjacent run
      (``aggregate``) instead of a groupBy — the whole metric stays inside
      whole-stage codegen."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lines = F.split(F.col("text"), "\n")
    wd = documents.withColumn("_toks", toks).withColumn("_lines", lines)
    # sequence(1, 0) would generate DESCENDING [1, 0] — guard short docs
    bigrams = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN"
        " transform(sequence(1, size(_toks) - 1), i -> concat(_toks[i-1], ' ', _toks[i]))"
        " ELSE array() END"
    )
    wd = wd.withColumn("_bg", F.array_sort(bigrams))
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top = F.aggregate(F.col("_bg"), init, merge, lambda acc: acc["best"])
    n_lines = F.size("_lines")
    n_toks = F.size("_toks")
    n_bg = F.size("_bg")
    return wd.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round((n_lines - F.size(F.array_distinct("_lines"))) / F.greatest(n_lines, F.lit(1)), 4).alias("dup_line_frac"),
        F.round((n_toks - F.size(F.array_distinct("_toks"))) / F.greatest(n_toks, F.lit(1)), 4).alias("dup_word_frac"),
        F.round(top / F.greatest(n_bg, F.lit(1)), 4).alias("top_bigram_frac"),
    )


def ngram_overlap(
    corpus: DataFrame, benchmark: DataFrame, n: int = 13
) -> DataFrame:
    """Benchmark decontamination by exact word n-gram overlap (the GPT-3 /
    Gopher recipe, n=13): any corpus document sharing an n-gram with an
    eval-set document is flagged. Returns (doc_id, bench_id,
    n_shared_ngrams) for every contaminated pair, self-pairs excluded.

    Scale shape: n-grams are md5-hashed so the join key is 32 bytes
    regardless of n; each side keeps DISTINCT (id, gram) pairs so a gram
    repeated inside one document can't multiply pairs. The benchmark side
    (eval sets — tiny vs the corpus) is broadcast; the corpus side's
    gram explode streams through the scan stage without a prior shuffle."""
    from pyspark.sql.functions import broadcast

    def grams(df: DataFrame, id_alias: str) -> DataFrame:
        toks = F.split(F.trim(F.col("text")), r"\s+")
        # docs shorter than n tokens contribute no grams (and sequence(1, 0)
        # would generate DESCENDING [1, 0] — the guard is load-bearing)
        g = F.expr(
            f"CASE WHEN size(_toks) >= {n} THEN"
            f" transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> md5(concat_ws(' ', slice(_toks, i, {n}))))"
            f" ELSE array() END"
        )
        return (
            df.withColumn("_toks", toks)
            .select(F.col("doc_id").alias(id_alias), F.explode(g).alias("gram"))
            .distinct()
        )

    c = grams(corpus, "doc_id")
    b = grams(benchmark, "bench_id")
    return (
        c.join(broadcast(b), "gram")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared_ngrams"))
    )


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Token counts under the BPE-ish pre-tokenizer — the training-data
    budget estimator (pre-tokens upper-bound BPE merges); JVM regexp_count,
    no UDF. Reported next to the whitespace-word count for comparison."""
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_PRETOKEN)).cast("long").alias("n_bpe_pretokens"),
        F.regexp_count(F.col("text"), F.lit(r"\w+")).cast("long").alias("n_word_tokens"),
    )


# PII patterns chosen to parse AND match identically in Java regex and RE2
# (no lookbehind/lookahead/backrefs): emails, IPv4, 16-digit card-shaped
# runs, US-shaped phone numbers.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "card": r"\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\b",
    "phone": r"\b\+?[0-9]{1,2}[ .-]?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\b",
}


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII redaction for training corpora: each pattern class is counted
    (pre-redaction) and replaced with a typed token ``<PII:CLASS>``.
    Chained JVM ``regexp_replace`` — one projection, no UDF, no shuffle;
    the redaction order (email, ipv4, card, phone) is part of the contract
    since classes can overlap (a phone inside an email local-part is
    redacted as email first)."""
    scrubbed = F.col("text")
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<PII:{name.upper()}>")
    return documents.select("doc_id", *counts, scrubbed.alias("scrubbed_text"))


def sample_stratified(documents: DataFrame, rates: dict, salt: str = "v1") -> DataFrame:
    """Deterministic per-stratum sampling — the 100 TB shape: no RNG state,
    no reservoir; a doc is kept iff the first 8 hex digits of
    md5(salt:doc_id) fall under the stratum's rate threshold. Fully
    reproducible across engines/runs/retries (the md5 family again), and
    changing ``salt`` draws an independent sample. ``rates`` maps stratum
    value -> keep fraction in [0, 1]; unlisted strata are dropped.

    The threshold compare is on the raw 8-hex-digit prefix as a STRING
    (equal-length lowercase hex orders identically to its numeric value),
    so any engine reproduces the exact sample with plain string
    comparison — no numeric hex conversion needed. rate >= 1 keeps the
    stratum unconditionally (the strict u < 'ffffffff' compare would
    silently drop the ~1-in-2^32 docs whose prefix is exactly
    'ffffffff' — at corpus scale, real documents); rate <= 0 drops it."""
    u = F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id"))), 1, 8)
    keep = None
    for stratum, rate in rates.items():
        if float(rate) <= 0.0:
            continue
        in_stratum = F.col("lang") == stratum
        if float(rate) >= 1.0:
            cond = in_stratum
        else:
            threshold = format(int(float(rate) * 0xFFFFFFFF), "08x")
            cond = in_stratum & (u < threshold)
        keep = cond if keep is None else (keep | cond)
    return documents.filter(keep if keep is not None else F.lit(False)).select(
        "doc_id", "lang"
    )


def _ws_tokens() -> "F.Column":
    """The corpus-metrics tokenization convention: lowercase, trim,
    split on whitespace runs. Shared by top_ngrams / ngram_novelty /
    heaps_law_curve so their numbers stay cross-comparable."""
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def _word_grams(n: int) -> "F.Column":
    """Word n-grams over a prepared `_toks` column (one definition for
    every n-gram metric; docs shorter than n tokens yield an empty
    array)."""
    return F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN"
        f" transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))"
        f" ELSE array() END"
    )


def top_ngrams(documents: DataFrame) -> DataFrame:
    """Corpus-wide most frequent word n-grams — the boilerplate/contamination
    radar (a header repeated across millions of pages dominates this list).
    Explode -> map-side-combinable count -> top-k; ties broken by the ngram
    string so the cut at k is deterministic. The physical top-k is a
    TakeOrderedAndProject (no global sort) — plan-asserted."""
    n = 3
    k = 20
    return (
        documents.withColumn("_toks", _ws_tokens())
        .select(F.explode(_word_grams(n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def chunk_plan(
    documents: DataFrame, max_tokens: int = 64, overlap: int = 8
) -> DataFrame:
    """Token-budget chunking plan: one row per (doc, chunk) with token
    offsets — the step every training pipeline runs before tokenization
    packs sequences. Stride = max_tokens - overlap; the final chunk may be
    short but is never empty; a doc with <= max_tokens tokens is one
    chunk. Pure integer arithmetic over the whitespace token count (no
    text shuffles — the explode happens on a 2-column projection), so any
    engine reproduces the plan exactly."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    # null-safe: a NULL text is an empty doc (one empty chunk), not a row
    # of NULL offsets
    n_tok = F.coalesce(
        F.regexp_count(F.col("text"), F.lit(r"\w+")).cast("long"), F.lit(0)
    )
    narrow = documents.select("doc_id", n_tok.alias("n_tokens"))
    # ceil((n - overlap) / stride) chunks, minimum 1
    n_chunks = F.greatest(
        ((F.col("n_tokens") - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
        .cast("long"),
        F.lit(1),
    )
    return (
        narrow.withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * stride).cast("long").alias("start_tok"),
            F.least(F.col("chunk_idx") * stride + max_tokens, F.col("n_tokens"))
            .cast("long")
            .alias("end_tok"),
            "n_tokens",
        )
    )


def boilerplate_spans(
    documents: DataFrame, n: int = 13, min_docs: int = 3
) -> DataFrame:
    """Cross-document repeated-passage detection — the boilerplate-removal
    step of a pretraining curation pipeline (site headers, license
    blocks, navigation text repeat verbatim across pages; stripping the
    SPAN, not the document, keeps the unique content).

    A word ``n``-gram occurring in >= ``min_docs`` DISTINCT documents is
    boilerplate; per document, the positions of boilerplate grams are
    merged into maximal token spans (gaps-and-islands over a running max
    of span ends). Returns (doc_id, span_start, span_end, n_grams) with
    1-based inclusive token offsets, one row per maximal span.

    Scale shape: the gram key is md5 (32 bytes regardless of n); the
    shared-gram side is a distinct (gram, doc) projection + a map-side
    combinable count — the text column never shuffles; the island merge
    windows partition by doc_id (narrow keys, bounded partitions). Same
    tokenization (lowercased whitespace split) and same n=13 default as
    ngram_overlap, so decontamination and boilerplate read one gram
    universe."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    pos_grams = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN"
        f" transform(sequence(1, size(_toks) - {n - 1}),"
        f" i -> struct(i AS pos, md5(concat_ws(' ', slice(_toks, i, {n}))) AS gram))"
        f" ELSE array() END"
    )
    g = (
        documents.withColumn("_toks", toks)
        .select("doc_id", F.explode(pos_grams).alias("pg"))
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    )
    shared = (
        g.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    hits = g.join(shared, "gram").select("doc_id", "pos")
    w_order = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + (n - 1)).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        hits.withColumn("_island", F.sum(island).over(w_order))
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("_island")
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def bpe_merge_candidates(documents: DataFrame, k: int = 20) -> DataFrame:
    """First iteration of byte-pair-encoding vocabulary learning: the
    corpus-wide most frequent ADJACENT CHARACTER PAIRS, weighted by word
    frequency — the pair a BPE trainer would merge first is this list's
    head. Returns (pair, score) for the top ``k``, ties broken by the
    pair string so the cut is deterministic.

    Words are lowercased whitespace tokens WITH multiplicity (a pair
    inside a frequent word counts once per occurrence, per BPE). Shape:
    words aggregate to (word, freq) first — the pair explode then runs
    on DISTINCT words only, so a million repeats of 'the' explode once —
    then a map-side-combinable weighted count and a deterministic top-k
    (TakeOrderedAndProject, no global sort)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    words = (
        documents.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = F.expr(
        "CASE WHEN length(word) >= 2 THEN"
        " transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
        " ELSE array() END"
    )
    return (
        words.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("score"))
        .orderBy(F.desc("score"), F.asc("pair"))
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Per-language characteristic terms by tf-idf — the corpus-profiling
    report a curation pipeline prints per shard. Score = tf ·
    (N·idf_scale // df) where tf = total occurrences of the term in the
    language, df = documents of that language containing it, N = docs of
    the language: an INTEGER idf proxy instead of tf·ln(N/df), because ln
    is not correctly-rounded across libms and a cross-engine oracle needs
    bit-equal scores (monotone in N/df, so the ranking is the tf-idf
    ranking whenever df separates terms). Top ``k`` per language, ties
    broken by the term string. All map-side-combinable counts over
    narrow (lang, term) keys; the text column dies at the explode."""
    k = 5
    idf_scale = 10**4
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    words = (
        documents.withColumn("_toks", toks)
        .select("doc_id", "lang", F.explode("_toks").alias("term"))
        .filter(F.col("term") != "")
    )
    tf = words.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df_ = (
        words.select("lang", "term", "doc_id")
        .distinct()
        .groupBy("lang", "term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = documents.filter(F.col("text").isNotNull()).groupBy("lang").agg(
        F.count("*").alias("n")
    )
    scored = (
        tf.join(df_, ["lang", "term"])
        .join(n_docs, "lang")
        .select(
            "lang",
            "term",
            F.expr(f"CAST(tf * ((n * {idf_scale}) div df) AS BIGINT)").alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("lang", "term", "score", F.col("_rn").cast("long").alias("rank"))
    )


def length_quantiles(documents: DataFrame) -> DataFrame:
    """EXACT per-language length quantiles (p25/p50/p75/p95 of n_chars) —
    the shard-size report. percentile_approx is sketch-based and engine-
    specific, so this computes the exact order statistic instead: the
    value at 0-based index floor((n-1)·p) of the (n_chars, doc_id)-sorted
    rows — deterministic on any engine. One window rank + one broadcast-
    sized count join; rows are (lang, long, long), never the text."""
    from pyspark.sql.window import Window

    narrow = documents.select(
        "lang", F.coalesce(F.col("n_chars"), F.lit(0)).alias("v"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy("v", "doc_id")
    ranked = narrow.withColumn("_rn", F.row_number().over(w))
    counts = narrow.groupBy("lang").agg(F.count("*").alias("_n"))
    j = ranked.join(counts, "lang")
    picks = [
        (p, F.floor((F.col("_n") - 1) * F.lit(p / 100.0)) + 1) for p in (25, 50, 75, 95)
    ]
    agg = [
        F.max(F.when(F.col("_rn") == idx, F.col("v"))).cast("long").alias(f"p{p}")
        for p, idx in picks
    ]
    return j.groupBy("lang").agg(
        F.max("_n").cast("long").alias("n_docs"), *agg
    )


def lang_mismatch(documents: DataFrame) -> DataFrame:
    """Cross-lingual contamination screen: documents whose n-gram
    language-id disagrees with the DECLARED lang column — mislabeled
    shards poison per-language sampling weights and tokenizer training,
    so curation pipelines quarantine them. Builds on lang_id (same marker
    scores, same tie precedence); emits one row per mismatched doc with
    the declared-language score, the detected-language score, and the
    integer evidence margin between them. Pure column arithmetic on the
    lang_id projection joined back to the declared lang — one narrow
    shuffle-free pass (lang rides the projection). The score map and
    argmax chain come from the shared `_lang_scores_and_decision`, not a
    re-implementation."""
    scores, best, decision = _lang_scores_and_decision()
    declared_score = None
    for lang, _ in LANG_MARKERS:
        cond = F.col("lang") == lang
        declared_score = (
            F.when(cond, scores[lang])
            if declared_score is None
            else declared_score.when(cond, scores[lang])
        )
    declared_score = F.coalesce(declared_score, F.lit(0)).cast("long")
    return (
        documents.select(
            "doc_id",
            "lang",
            decision.alias("lang_id"),
            declared_score.alias("score_declared"),
            best.alias("score_detected"),
            (best - declared_score).cast("long").alias("margin"),
        )
        .filter(F.col("lang_id") != F.col("lang"))
    )


def rarity_score(documents: DataFrame) -> DataFrame:
    """Unigram-LM quality proxy ("perplexity-lite"): per document, the
    mean INVERSE corpus frequency of its tokens — w(token) =
    total_corpus_tokens div corpus_count(token), an integer surprisal
    proxy (monotone in 1/p, like -log p without the libm dependency a
    cross-engine oracle can't tolerate). Gibberish and rare-token spam
    score high; common prose scores low — curation pipelines threshold
    this next to the stopword screen.

    Returns (doc_id, n_toks, sum_rarity, mean_rarity) with mean rounded
    to 4 decimals of an exact-integer ratio. Scale shape: one explode →
    (token) count aggregate (map-side combinable) → equi-join back on the
    token → per-doc sum; the corpus-total scalar rides a broadcast
    single-row join. NULL/empty docs emit no row (no tokens, no LM
    evidence — curation owns empties)."""
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != "")
    words = (
        documents.withColumn("_t", toks)
        .select("doc_id", F.explode("_t").alias("w"))
    )
    counts = words.groupBy("w").agg(F.count("*").alias("_cnt"))
    total = counts.agg(F.sum("_cnt").cast("long").alias("_total"))
    scored = (
        words.join(counts, "w")
        .join(F.broadcast(total))
        .select("doc_id", F.expr("_total div _cnt").cast("long").alias("_w"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum("_w").cast("long").alias("sum_rarity"),
            F.round(F.sum("_w") / F.count("*"), 4).alias("mean_rarity"),
        )
    )


def vocab_coverage(documents: DataFrame, vocab_size: int = 500) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the corpus top-``vocab_size``
    word vocabulary (by frequency, ties to the lexicographically smaller
    word so the cut is deterministic) and report, per document, how much
    of it the vocabulary covers — the go/no-go check before freezing a
    tokenizer (a shard with high OOV mass will fragment into bytes and
    blow up its token count).

    Returns (doc_id, n_toks, oov_toks, oov_rate) with oov_rate rounded
    to 4 decimals. NULL/empty docs emit no row (no tokens — curation
    owns empties). Scale shape: token counts are a map-side-combinable
    aggregate; the vocabulary is a driver-bounded orderBy().limit()
    broadcast to a LEFT join (an OOV token simply misses), so the big
    side shuffles once on the token."""
    toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != "")
    words = documents.withColumn("_t", toks).select(
        "doc_id", F.explode("_t").alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.desc("_c"), F.asc("w"))
        .limit(vocab_size)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_toks"),
        )
        .withColumn("oov_rate", F.round(F.col("oov_toks") / F.col("n_toks"), 4))
    )


def boilerplate_cut_plan(documents: DataFrame, min_docs: int = 3) -> DataFrame:
    """The actionable half of boilerplate removal: the KEEP ranges — per
    document, the maximal token ranges left after cutting every
    boilerplate span (complement intervals). A doc with no boilerplate
    keeps one full range; a doc that is entirely boilerplate keeps
    nothing; 1-based inclusive offsets matching boilerplate_spans.
    Returns (doc_id, keep_start, keep_end, n_toks_kept).

    Shape: three narrow branches unioned — between-span gaps (lag window
    over the spans, bounded per doc), the post-last-span tail (span max +
    token-count join), and full ranges for span-free docs (anti-join).
    The text column is touched once for the token count."""
    n = 13
    from pyspark.sql.window import Window

    spans = boilerplate_spans(documents, n=n, min_docs=min_docs)
    ntok = documents.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("long").alias("_n"),
    ).filter(F.col("_n") >= 1)
    w = Window.partitionBy("doc_id").orderBy("span_start")
    gaps = (
        spans.withColumn("_pe", F.coalesce(F.lag("span_end").over(w), F.lit(0)))
        .select(
            "doc_id",
            (F.col("_pe") + 1).alias("keep_start"),
            (F.col("span_start") - 1).alias("keep_end"),
        )
        .filter(F.col("keep_end") >= F.col("keep_start"))
    )
    trail = (
        spans.groupBy("doc_id")
        .agg(F.max("span_end").alias("_me"))
        .join(ntok, "doc_id")
        .select(
            "doc_id",
            (F.col("_me") + 1).alias("keep_start"),
            F.col("_n").alias("keep_end"),
        )
        .filter(F.col("keep_end") >= F.col("keep_start"))
    )
    full = (
        ntok.join(spans.select("doc_id").distinct(), "doc_id", "left_anti")
        .select("doc_id", F.lit(1).alias("keep_start"), F.col("_n").alias("keep_end"))
    )
    return (
        gaps.unionByName(trail)
        .unionByName(full)
        .select(
            "doc_id",
            F.col("keep_start").cast("long").alias("keep_start"),
            F.col("keep_end").cast("long").alias("keep_end"),
            (F.col("keep_end") - F.col("keep_start") + 1).cast("long").alias("n_toks_kept"),
        )
    )


def bigram_diversity(documents: DataFrame) -> DataFrame:
    """Character-bigram diversity — the libm-free entropy proxy for the
    gibberish screen: distinct char bigrams over total bigrams of the
    lowercased text. Repetitive spam ("hahaha...") scores near 0, natural
    prose sits in a stable band, random gibberish near 1. Returns
    (doc_id, n_bigrams, n_distinct, diversity) with the ratio rounded to
    4 decimals; docs with < 2 chars emit no row. Pure per-row array
    expressions — no shuffle, no UDF."""
    t = F.lower(F.col("text"))
    grams = F.expr(
        "transform(sequence(1, length(lower(text)) - 1), i -> substr(lower(text), i, 2))"
    )
    return (
        documents.filter(F.length(t) >= 2)
        .select(
            "doc_id",
            F.size(grams).cast("long").alias("n_bigrams"),
            F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        )
        .withColumn("diversity", F.round(F.col("n_distinct") / F.col("n_bigrams"), 4))
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-group n-gram novelty profile: of each document's DISTINCT
    word n-grams, how many appear for the FIRST time in that document
    (first = smallest doc_id over the whole corpus — a deterministic
    stand-in for ingest order)? A corpus whose late documents are all
    re-paste of early ones shows novelty collapsing toward 0 — the
    cheap corpus-growth-health metric next to the pairwise dup stack
    (training/dedup.py). Tokenization is the shared top_ngrams
    convention (lower, trim, split on whitespace runs).

    Output per group: (grp, n_docs, distinct_grams — Σ per-doc distinct,
    novel_grams — grams first seen in a doc of this group, novel_bp =
    10000·novel div distinct, truncated). Docs with < n tokens
    contribute nothing.

    Scale shape: explode to (doc, gram) DISTINCT rows (the dedup is
    map-side combinable), one groupBy(gram) min-aggregate for the first
    doc, one broadcast-free equi-join back on gram, one final groupBy.
    Text is dropped before every shuffle; no all-pairs anywhere.
    """
    doc_grams = (
        documents.withColumn("_toks", _ws_tokens())
        .select("doc_id", F.col("lang").alias("grp"), F.explode(_word_grams(n)).alias("gram"))
        .dropDuplicates(["doc_id", "gram"])
    )
    first = doc_grams.groupBy("gram").agg(F.min("doc_id").alias("_first_doc"))
    return (
        doc_grams.join(first, "gram")
        .groupBy("grp")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("distinct_grams"),
            F.sum((F.col("doc_id") == F.col("_first_doc")).cast("long"))
            .cast("long")
            .alias("novel_grams"),
        )
        .withColumn(
            "novel_bp",
            F.expr(
                "(cast(novel_grams as decimal(38,0)) * 10000)"
                " div cast(distinct_grams as decimal(38,0))"
            ).cast("long"),
        )
    )


def heaps_law_curve(
    documents: DataFrame, n_cuts: int = 10
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) checkpoints: after the first k/n
    of the corpus (documents ordered by doc_id — the deterministic
    stand-in for ingest order), how many distinct word types exist?
    Healthy organic corpora grow V(n) ≈ K·nᵝ (β≈0.5); a flattening
    curve means the corpus stopped bringing new language — the
    vocabulary-side twin of ngram_novelty's per-doc signal.

    Checkpoint k (k = 1..n_cuts) is the (k·N div n_cuts)-th smallest
    doc_id (an exact order statistic); V(k) counts tokens whose FIRST
    document (min doc_id) is ≤ that checkpoint. Tokens are the shared
    whitespace convention. Output: (cut, n_docs, last_doc_id,
    vocab_size).

    Scale shape: tokens collapse to (token → first_doc) via one
    map-side-combinable min-agg; first_docs collapse again to a
    (first_doc → #new-tokens) table bounded by #documents; checkpoints
    come from a row_number over the doc-id projection (one narrow
    global sort of doc ids — same cost class as the exact length
    quantiles). The final comparison is a broadcast cross-join of the
    ≤ n_cuts checkpoint rows against the per-first-doc count table.
    """
    first = (
        documents.select("doc_id", F.explode(_ws_tokens()).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("_fd"))
        .groupBy("_fd")
        .agg(F.count(F.lit(1)).cast("long").alias("_new"))
    )
    ids = documents.select("doc_id").withColumn(
        "_rn", F.row_number().over(Window.orderBy("doc_id"))
    ).withColumn("_N", F.count(F.lit(1)).over(Window.partitionBy()))
    cps = (
        ids.select(
            "doc_id", "_rn", "_N",
            F.explode(F.sequence(F.lit(1), F.lit(int(n_cuts)))).alias("cut"),
        )
        .filter(F.col("_rn") == F.expr(f"(cut * _N) div {int(n_cuts)}"))
        .select(
            F.col("cut").cast("long").alias("cut"),
            F.col("_rn").cast("long").alias("n_docs"),
            F.col("doc_id").alias("last_doc_id"),
        )
    )
    return (
        cps.crossJoin(first)
        .filter(F.col("_fd") <= F.col("last_doc_id"))
        .groupBy("cut", "n_docs", "last_doc_id")
        .agg(F.sum("_new").cast("long").alias("vocab_size"))
    )


def readability_profile(documents: DataFrame) -> DataFrame:
    """Flesch-Kincaid-style readability per group, exact-integer: the
    curation signal next to quality_score — a corpus whose grade level
    collapses (listicles, boilerplate) or explodes (OCR noise, code in
    prose) needs different filters than a lexical-quality dip. Per doc,
    FK grade ×100 = (39·words) div sentences + (1180·syllables) div
    words − 1559, with words = \\w+ runs, sentences = [.!?]+ runs
    (floored to 1 — a fragment is one sentence), syllables = [aeiouy]+
    vowel groups of the lowercased text (the standard cheap syllable
    proxy). Each term truncates independently, in this fixed order, so
    any engine reproduces the per-doc grade exactly. Docs with zero
    words are excluded (reported via n_docs vs the table's count).

    Output per group: (grp, n_docs, mean_fk_x100 — truncated toward
    zero with the sign factored out, min_fk_x100, max_fk_x100). One
    groupBy over three regexp_count columns; text never shuffles.
    """
    t = F.coalesce(F.col("text"), F.lit(""))
    w = F.regexp_count(t, F.lit(r"\w+")).cast("long")
    s = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")).cast("long"), F.lit(1))
    y = F.regexp_count(F.lower(t), F.lit("[aeiouy]+")).cast("long")
    per_doc = (
        documents.select(F.col("lang").alias("grp"), w.alias("_w"), s.alias("_s"), y.alias("_y"))
        .filter(F.col("_w") > 0)
        .select(
            "grp",
            (
                F.expr("(39 * _w) div _s") + F.expr("(1180 * _y) div _w") - 1559
            ).cast("long").alias("_fk"),
        )
    )
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("_fk").cast("decimal(38,0)")).alias("_sum"),
        F.min("_fk").cast("long").alias("min_fk_x100"),
        F.max("_fk").cast("long").alias("max_fk_x100"),
    )
    sign = F.when(F.col("_sum") < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return agg.select(
        "grp",
        "n_docs",
        (sign * F.expr("abs(_sum) div n_docs").cast("long")).alias("mean_fk_x100"),
        "min_fk_x100",
        "max_fk_x100",
    )


def burstiness(documents: DataFrame, min_total: int = 30, k: int = 50) -> DataFrame:
    """Corpus-wide term burstiness: the top-k words by variance-to-mean
    ratio of their per-document counts — Church/Gale burstiness, the
    signal that separates topical terms (bursty: absent from most docs,
    dense where they appear) from function words (Poisson-ish: spread
    evenly). A dedup/curation pipeline reads this next to ``top_ngrams``:
    a high-frequency LOW-burstiness "content" word is boilerplate leaking
    through templates.

    Exact integer arithmetic: with N = |docs| (NULL-text docs count as
    empty — they hold zero occurrences of every word, which is exactly
    what the variance must see), per word x_d = count in doc d,
    S1 = sum(x), S2 = sum(x^2):
        vmr_x100 = 100 * (N*S2 - S1^2) div (N * S1)
    (VMR = Var/mean with Var = (N*S2 - S1^2)/N^2, mean = S1/N — the N^2
    cancels). Words below ``min_total`` total occurrences are noise and
    are cut BEFORE the top-k.

    Scale shape: explode -> (doc_id, word) groupBy (map-side combinable)
    -> per-word groupBy -> broadcast of the one-row corpus count -> the
    physical top-k is a TakeOrderedAndProject (no global sort). Text
    never shuffles — only (doc_id, word, count) rows do. The int64
    products hold while N*S2 < 2^63; at extreme corpus scale swap the
    accumulators to DECIMAL(38,0)."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: w != "",
    )
    n_docs_total = documents.agg(F.count(F.lit(1)).alias("n_corpus_docs"))
    per_doc = (
        documents.select("doc_id", F.explode(toks).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_word = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("c").cast("long").alias("n_total"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_s2"),
    )
    return (
        per_word.crossJoin(F.broadcast(n_docs_total))
        .filter(F.col("n_total") >= min_total)
        .select(
            "word",
            "n_docs",
            "n_total",
            F.expr(
                "CAST(100 * (n_corpus_docs * _s2 - n_total * n_total)"
                " div (n_corpus_docs * n_total) AS BIGINT)"
            ).alias("vmr_x100"),
        )
        .orderBy(F.desc("vmr_x100"), F.asc("word"))
        .limit(k)
    )


def simpson_diversity(documents: DataFrame) -> DataFrame:
    """Simpson repeat-rate / Gini-Simpson diversity of the unigram
    distribution per group, in exact basis points:
    simpson_bp = 10000 * sum(n_i * (n_i - 1)) div (N * (N - 1)) — the
    probability two tokens drawn WITHOUT replacement are the same word —
    and gini_simpson_bp = 10000 - simpson_bp. The division-free cousin of
    entropy: a template-flooded corpus slice scores high repeat-rate long
    before perplexity could be computed, making this the cheap screen a
    curation pipeline runs per source/language. NULL for groups with
    fewer than two tokens (undefined, not zero).

    Scale shape: explode -> (grp, word) count (map-side combinable) ->
    per-group aggregate; text never shuffles, only (grp, word, count)
    rows. sum(n_i^2) is bounded by N^2 — at extreme scale swap the long
    accumulators for DECIMAL(38,0)."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: w != "",
    )
    per_word = (
        documents.select(F.col("lang").alias("grp"), F.explode(toks).alias("word"))
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_word.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            "CAST(CASE WHEN sum(c) >= 2 THEN 10000 * sum(c * (c - 1))"
            " div (sum(c) * (sum(c) - 1)) END AS BIGINT)"
        ).alias("simpson_bp"),
        F.expr(
            "CAST(CASE WHEN sum(c) >= 2 THEN 10000 - 10000 * sum(c * (c - 1))"
            " div (sum(c) * (sum(c) - 1)) END AS BIGINT)"
        ).alias("gini_simpson_bp"),
    )


def heaps_curve(documents: DataFrame, n_checkpoints: int = 10) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: at ``n_checkpoints`` evenly
    spaced prefixes of the corpus in doc_id order, the exact cumulative
    token count and cumulative DISTINCT-word count
    (checkpoint, n_docs_cum, n_tokens_cum, n_types_cum). The curve's
    bend is the capacity-planning number for vocabulary-bound structures
    (tokenizer training, hash-vocab sizing): V(N) ~ K·N^beta flattens
    when a corpus is template-flooded and keeps climbing when it is
    genuinely diverse — read next to simpson_diversity (its pointwise
    cousin) and top_ngrams.

    Exactness contract: "cumulative" is pinned to ascending doc_id order
    (unique integral ids), checkpoint k covers the first (D*k) div n
    docs, and a word's arrival position is its MINIMUM doc position —
    all order statistics any engine reproduces.

    Scale shape: doc positions and cumulative token sums come from TWO
    ``global_prefix_sum`` passes over the narrow (doc_id, n_toks)
    projection (bucketed, no full-data single-partition window); the
    type curve never materializes per-checkpoint vocabularies — each
    word collapses to its first position (map-side combinable min), and
    one broadcast join against the k-row checkpoint table counts
    arrivals per prefix."""
    from dr_source_spark.operators.prefix import global_prefix_sum

    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: w != "",
    )
    narrow = documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_toks"),
        F.lit(1).cast("long").alias("_one"),
    )
    pos = global_prefix_sum(narrow, "doc_id", "_one", out_col="_p")
    pos = global_prefix_sum(pos, "doc_id", "n_toks", out_col="_tp").select(
        "doc_id",
        (F.col("_p") + 1).alias("pos"),
        (F.col("_tp") + F.col("n_toks")).alias("tok_incl"),
    )
    spark = documents.sparkSession
    total = documents.agg(F.count(F.lit(1)).alias("_d"))
    cps = (
        spark.range(1, n_checkpoints + 1)
        .select(F.col("id").cast("long").alias("checkpoint"))
        .crossJoin(F.broadcast(total))
        .select(
            "checkpoint",
            F.expr(f"CAST(_d * checkpoint div {n_checkpoints} AS BIGINT)").alias(
                "cp_pos"
            ),
        )
    )
    tok_at = pos.join(
        F.broadcast(cps), pos["pos"] == cps["cp_pos"]
    ).select("checkpoint", F.col("cp_pos").alias("n_docs_cum"), F.col("tok_incl").alias("n_tokens_cum"))
    wfirst = (
        documents.select("doc_id", F.explode(toks).alias("word"))
        .distinct()
        .join(pos.select("doc_id", "pos"), "doc_id")
        .groupBy("word")
        .agg(F.min("pos").alias("fpos"))
    )
    types_at = (
        wfirst.crossJoin(F.broadcast(cps))
        .filter(F.col("fpos") <= F.col("cp_pos"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types_cum"))
    )
    return (
        tok_at.join(types_at, "checkpoint", "left")
        .select(
            "checkpoint",
            "n_docs_cum",
            "n_tokens_cum",
            F.coalesce("n_types_cum", F.lit(0)).cast("long").alias("n_types_cum"),
        )
    )


def yule_k(documents: DataFrame) -> DataFrame:
    """Per-document Yule's K lexical-richness characteristic, exact and
    scaled: with N = token count and S2 = Σ(per-type frequency²),
    K = 10⁴·(S2 − N)/N² — the repeated-vocabulary statistic that, unlike
    a raw type/token ratio, is (approximately) length-invariant, so it
    ranks a 100-token and a 10 000-token document on the same scale.
    High K = few types recycled hard (template/boilerplate smell,
    degenerate generations); low K = rich vocabulary. Read next to
    ``burstiness`` (corpus-level) and ``repetition metrics`` (span-level)
    as the per-document member of the repetition family.

    Output (doc_id, n_tokens, n_types, k_x100) where
    k_x100 = (10⁶·(S2 − N)) div N² — Yule's K scaled ×100 with ONE
    truncating division in decimal(38,0), so any engine reproduces it
    bit-for-bit. Documents with < 2 tokens (including NULL/empty text)
    keep their row with k_x100 NULL — K is undefined there, and the
    audit invariant is that every input document gets a verdict row.

    Scale shape: explode → one map-side-combinable groupBy(doc_id, word)
    → one groupBy(doc_id) for (N, S2) → broadcast-safe left join back to
    the doc_id spine (text itself never shuffles). Tokenization is the
    family's shared whitespace split, lowercased.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda w: w != "",
    )
    per_type = (
        documents.select("doc_id", F.explode(toks).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = per_type.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("_s2"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) >= 2,
                F.expr(
                    "CAST((CAST(_s2 AS decimal(38,0)) - n_tokens)"
                    " * CAST(1000000 AS decimal(38,0))"
                    " div (CAST(n_tokens AS decimal(38,0)) * n_tokens)"
                    " AS BIGINT)"
                ),
            ).alias("k_x100"),
        )
    )


def hash_split_expr(id_col: "F.Column") -> "F.Column":
    """Leakage-safe 80/10/10 train/val/test assignment as a PURE FUNCTION
    of the id through the portable md5 hash family (first 8 hex nibbles
    as an integer — the same base every minhash/sketch oracle
    reproduces): re-runs, backfills, and cross-engine audits agree row
    for row. Shared by the split-assignment report and the
    split-leakage census so the two can never disagree on a document's
    split."""
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long")
    return (
        F.when(h % 10 <= 7, "train").when(h % 10 == 8, "val").otherwise("test")
    )


# license-marker phrases, tested in PRIORITY order (first hit wins) —
# lowercase literals so both engines match with plain `contains`, no
# regex dialect in play. The MIT grant sentence outranks the generic
# "mit license" tag; the BSD clause sentence outranks "bsd license".
LICENSE_MARKERS: list[tuple[str, str]] = [
    ("mit", "permission is hereby granted, free of charge"),
    ("mit", "mit license"),
    ("apache-2.0", "apache license"),
    ("lgpl", "gnu lesser general public license"),
    ("gpl", "gnu general public license"),
    ("bsd", "redistribution and use in source and binary forms"),
    ("bsd", "bsd license"),
    ("mpl-2.0", "mozilla public license"),
    ("unlicense", "this is free and unencumbered software"),
]


def license_expr():
    """The first-match-wins license classification as a Column over the
    ``text`` column — THE definition both the batch census and the
    streaming screen consume, so the two paths cannot drift (the
    quality_reason_expr convention)."""
    txt = F.lower(F.coalesce(F.col("text"), F.lit("")))
    lic = F.lit("none")
    for name, phrase in reversed(LICENSE_MARKERS):
        lic = F.when(txt.contains(phrase), F.lit(name)).otherwise(lic)
    return lic


def license_screen(documents: DataFrame) -> DataFrame:
    """LICENSE-HEADER census — the compliance gate every code-LLM
    training pipeline runs before a corpus ships: each document is
    classified by the first license-marker phrase its lowercased text
    contains (priority order pinned in ``LICENSE_MARKERS``; no match →
    'none'), rolled up per (lang, license). Phrase CONTAINMENT on
    lowercased text, not regex — identical semantics in every engine,
    and the scan is a handful of JVM `Contains` predicates inside one
    codegen stage (no Python in the path).

    Output: (lang, license, n_docs, total_chars). NULL text coalesces
    to '' (the curation convention), classifying as 'none'.

    Scale shape: a pure map + one low-cardinality groupBy with
    map-side combine; the text column dies in-stage.
    """
    return (
        documents.select(
            "lang",
            license_expr().alias("license"),
            F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("_n"),
        )
        .groupBy("lang", "license")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n").cast("long").alias("total_chars"),
        )
    )


def prefix_families(documents: DataFrame) -> DataFrame:
    """TEMPLATED-DOCUMENT screen by shared PREFIX — the cheap
    boilerplate signal beside the 13-gram span detector: documents
    whose first ``prefix_chars`` characters (whitespace-normalized,
    lowercased — the exact-dedup normalization) coincide form a
    family; families of ≥ 2 are template suspects (form letters,
    scraped page chrome, generated headers). Reported as the
    family-size histogram with the share of DOCS (not families)
    sitting in each size, so "40 % of the corpus opens identically"
    reads directly.

    Output: (family_size, n_families, docs_share_bp) — singleton
    families included (family_size 1 = unique openings), so the
    shares add to ~10⁴ over the whole corpus.

    Scale shape: prefixes reduce to digests in-stage (text never
    shuffles), one digest groupBy + one bounded histogram; shares
    window over the histogram only.
    """
    prefix_chars = 32
    norm = F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
    )
    fam = (
        documents.select(
            F.sha2(F.substring(norm, 1, int(prefix_chars)), 256).alias("_fp")
        )
        .groupBy("_fp")
        .agg(F.count(F.lit(1)).cast("long").alias("family_size"))
    )
    hist = fam.groupBy("family_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_families")
    )
    return hist.select(
        "family_size",
        "n_families",
        F.expr(
            "CAST((10000 * family_size * n_families)"
            " div (sum(family_size * n_families) over ()) AS BIGINT)"
        ).alias("docs_share_bp"),
    )


def token_length_histogram(documents: DataFrame) -> DataFrame:
    """TOKEN-LENGTH histogram — the lexical shape profile a tokenizer
    owner reads before choosing vocab/merge budgets: all whitespace
    tokens across the corpus bucketed by character length (lengths
    above ``max_len`` clamp into one tail bucket, so a single
    megatoken cannot stretch the report), with exact bp shares of the
    token stream.

    Output: (token_len, n_tokens, share_bp).

    Scale shape: one explode + one bounded (≤ max_len+1) groupBy with
    map-side combine; text reduces to integer lengths in-stage.
    """
    max_len = 30
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    m = int(max_len)
    hist = (
        documents.select(F.explode(toks).alias("w"))
        .select(F.least(F.length("w"), F.lit(m)).cast("long").alias("token_len"))
        .groupBy("token_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    return hist.select(
        "token_len",
        "n_tokens",
        F.expr(
            "CAST((10000 * n_tokens) div (sum(n_tokens) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def digit_heavy_screen(documents: DataFrame) -> DataFrame:
    """DIGIT-HEAVY document screen — the "is this prose or a dump"
    curation signal the stopword ratio misses (log lines, CSV blobs,
    serialized tables are digit-dense but can carry stopwords): per
    language, documents whose digit share of non-whitespace
    characters exceeds ``max_digit_bp`` (exact cross-multiplied
    comparison — 10⁴·digits > bp·chars, no ratio materialized), with
    the flagged share in bp. Char-class counts via one JVM
    regexp_count each — no tokenization, no Python.

    Output: (lang, n_docs, n_digit_heavy, flagged_bp).

    Scale shape: a pure map (two regexp_counts) + one per-lang
    aggregate with map-side combine.
    """
    max_digit_bp = 3000
    txt = F.coalesce(F.col("text"), F.lit(""))
    digits = F.regexp_count(txt, F.lit(r"[0-9]")).cast("long")
    chars = F.regexp_count(txt, F.lit(r"\S")).cast("long")
    bp = int(max_digit_bp)
    per = documents.select(
        "lang",
        (
            (F.lit(10000) * digits > F.lit(bp) * chars) & (chars > 0)
        ).cast("long").alias("heavy"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("heavy").cast("long").alias("n_digit_heavy"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_digit_heavy",
        F.expr("CAST((10000 * n_digit_heavy) div n_docs AS BIGINT)").alias(
            "flagged_bp"
        ),
    )


def shout_screen(documents: DataFrame) -> DataFrame:
    """UPPERCASE-SHOUTING screen — digit_heavy_screen's letter-case
    sibling: per language, documents whose uppercase share of LETTERS
    exceeds ``max_upper_bp`` (cross-multiplied, letters-only
    denominator so digits and punctuation don't dilute the signal) —
    the all-caps spam / shouting-comment / constant-dump signal.

    Output: (lang, n_docs, n_shouting, flagged_bp).

    Scale shape: two JVM regexp_counts per row + one per-lang
    aggregate with map-side combine.
    """
    max_upper_bp = 3000
    txt = F.coalesce(F.col("text"), F.lit(""))
    upper = F.regexp_count(txt, F.lit("[A-Z]")).cast("long")
    letters = F.regexp_count(txt, F.lit("[A-Za-z]")).cast("long")
    bp = int(max_upper_bp)
    per = documents.select(
        "lang",
        (
            (F.lit(10000) * upper > F.lit(bp) * letters) & (letters > 0)
        ).cast("long").alias("shout"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("shout").cast("long").alias("n_shouting"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_shouting",
        F.expr("CAST((10000 * n_shouting) div n_docs AS BIGINT)").alias(
            "flagged_bp"
        ),
    )

"""Deduplication operators for training corpora.

* exact: hash-groupBy on a content fingerprint (one shuffle of narrow cols).
* minhash (word-set Jaccard): portable md5-based hash family so the oracle
  can reproduce signatures in ANSI SQL; LSH banding turns signature equality
  into an equi-join — the scale path (no O(n²) pair comparison).
* simhash: 64-bit near-dup signature over word hashes.

Scale: every stage is groupBy/join on narrow keys; the text column is
dropped before any shuffle. Skew (a viral duplicate cluster) is bounded by
AQE skew-join splitting; cluster sizes can also be capped with a salted
two-phase count.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint

_LSH_OBS_SEQ = itertools.count()

# scale-safe LSH banding: 112 hashes in 14 bands (r=8) put the S-curve
# threshold near Jaccard 0.7; a band signature shared by more than
# LSH_CAP docs (a viral duplicate cluster) is dropped from pair generation.
# The one-shot dedup, the staged curation job and the query oracles all
# read these, so their keep lists agree.
LSH_HASHES, LSH_BANDS, LSH_CAP = 112, 14, 1000


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) texts: canonical id = min doc_id."""
    return (
        fingerprint(documents)
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("canonical_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def _words():
    return F.array_distinct(F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""))


def _shingles(n: int):
    """Distinct character n-grams of the lowercased text (JVM-side:
    substr over a generated positions array — no UDF). Character shingles
    catch near-duplicates that word-set Jaccard misses (reordered words,
    punctuation/space edits) at the cost of larger token sets.

    Token-free text (NULL/empty/whitespace) yields an EMPTY array —
    matching `_words`, so the no-signature-for-token-free-docs invariant
    holds in shingle mode too. Without the guard, '' emitted the ['']
    shingle (making all empty docs certain near-dup candidates of each
    other) and NULL emitted a NULL-minhash signature row."""
    t = F.lower(F.col("text"))
    positions = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    grams = F.array_distinct(F.transform(positions, lambda i: t.substr(i, F.lit(n))))
    return F.when(
        F.trim(F.coalesce(t, F.lit(""))) == "", F.array().cast("array<string>")
    ).otherwise(grams)


# Universal-hash MinHash family: h_i(w) = (a_i * base(w) + b_i) % P with
# base(w) = the first 8 hex chars of md5(w) as a 32-bit integer and P the
# smallest prime > 2^32. ONE md5 per token (the base), then num_hashes
# integer multiply-adds — vs one md5 PER (token, seed) in the naive
# md5(seed||token) family (measured ~2.5x faster end-to-end on the sf0.1
# candidates pipeline, round 5; also narrows the shuffled signature from a
# 32-char hex string to an 8-byte long). Bounds keep every intermediate in
# signed 64-bit on ANY engine: a <= 2^31-1, b < 2^31, base < 2^32 =>
# a*base + b <= 2^63 - 2^32 < 2^63. Constants derive deterministically
# from md5 so the DuckDB oracle embeds the identical family as literals.
_MINHASH_P = 4294967311


def minhash_family(num_hashes: int) -> list:
    """Deterministic (a_i, b_i) parameters of the minhash family —
    regenerable by any engine/test from the spec in the comment above."""
    import hashlib

    params = []
    for i in range(num_hashes):
        a = int.from_bytes(hashlib.md5(f"a:{i}".encode()).digest()[:4], "big") % (2**31 - 1) + 1
        b = int.from_bytes(hashlib.md5(f"b:{i}".encode()).digest()[:4], "big") % (2**31)
        params.append((a, b))
    return params


def _minhash_base(col):
    """32-bit integer base hash of a token column (first 8 md5 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _minhash_wide(documents: DataFrame, num_hashes: int, shingle_n: int = 0) -> DataFrame:
    """(doc_id, m0..m{num_hashes-1}) — all mins in ONE aggregate pass.

    The base hash is projected BEFORE the aggregate so the md5 runs once
    per token row; the num_hashes aggregate expressions are pure integer
    arithmetic over that column (an md5 inside each aggregate would not be
    common-subexpression-eliminated across aggregates)."""
    sc = documents.sparkSession.sparkContext
    tokens = _shingles(shingle_n) if shingle_n else _words()
    hashed = (
        documents.repartition(sc.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(tokens).alias("word"))
        .select("doc_id", _minhash_base(F.col("word")).alias("h"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_family(num_hashes))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    documents: DataFrame, num_hashes: int = 8, shingle_n: int = 0
) -> DataFrame:
    """Long-format MinHash signatures: (doc_id, seed, minhash) with
    minhash a 64-bit integer from the universal family above.

    Token-free documents (NULL/empty/whitespace text) emit NO signature —
    deliberate: a doc with no tokens has no word-set to be near-duplicate
    OF (Jaccard undefined), and exact dedup + curation handle empties.
    Downstream pair sets therefore never contain such docs.

    Tokens are whitespace words by default; shingle_n > 0 switches to
    character n-gram shingles (shingle→minhash→band→bucket-join — the
    classic near-dup pipeline shape).

    Plan shape: repartition the (narrow) doc rows first — a small corpus
    often arrives as one parquet split and the hash work would otherwise
    run in a single task; all k mins are computed in ONE aggregate pass (k
    expressions, no seed explode) and unpivoted with stack()."""
    per_doc = _minhash_wide(documents, num_hashes, shingle_n)
    stack_expr = "stack({n}, {cols}) as (seed, minhash)".format(
        n=num_hashes, cols=", ".join(f"CAST({i} AS INT), m{i}" for i in range(num_hashes))
    )
    return per_doc.select("doc_id", F.expr(stack_expr))


def _band_signatures(documents: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, band_sig): band_sig = the band's minhashes joined in
    seed order. Computed straight off the wide aggregate — an array of
    per-band structs exploded in-plan — so banding adds NO extra shuffle
    (the former long-format stack + groupBy(doc_id, band) re-shuffled the
    signatures a second time)."""
    rows_per_band = num_hashes // bands
    per_doc = _minhash_wide(documents, num_hashes)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("band"),
                F.concat_ws(
                    "|",
                    *[F.col(f"m{j * rows_per_band + k}").cast("string") for k in range(rows_per_band)],
                ).alias("band_sig"),
            )
            for j in range(bands)
        ]
    )
    return per_doc.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = LSH_HASHES,
    bands: int = LSH_BANDS,
    max_cluster: int = LSH_CAP,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.
    Returns (doc_a, doc_b) with doc_a < doc_b. Join is equi on (band,
    band_sig) — broadcast-free, shuffle on narrow keys only.

    Scale parameters: rows-per-band r = num_hashes/bands. The defaults
    (112/14 → r=8) put the S-curve threshold near Jaccard ≈ 0.7 —
    P(candidate) = 1-(1-s^8)^14 is ~1.0 at s=0.9, 0.56 at s=0.7, 5% at
    s=0.5 — so the candidate set tracks the true near-duplicate pairs
    instead of degenerating toward all-pairs (r=2 collides at s² per band:
    at corpus scale that is a quadratic blowup).

    max_cluster caps the per-(band, band_sig) group size: a viral duplicate
    cluster of g docs would otherwise emit g(g-1)/2 pairs from a single
    band group (10^12 pairs for a million-doc cluster). Groups above the
    cap are dropped — deterministically, so oracles can reproduce the
    output — and the drop is NEVER silent: an in-plan ``observe`` metric
    (``lsh_cap_drops``: n_oversized_clusters / n_docs_in_oversized) rides
    every materialization of the result — visible in the Spark UI / SQL
    listener without the caller remembering a companion query. Such
    clusters are near-identical text and are handled by the cheaper
    exact-dedup pass. The group count uses a map-side partial aggregate
    (narrow keys), so a hot signature never pins one task before the cap,
    and it runs BEFORE the per-group id arrays are collected (see
    ``_pairs_from_band_sigs``), so a viral cluster never materializes its
    id array in an aggregation buffer either. Set max_cluster=0 to
    disable.

    Pair generation is ONE groupBy over the band signatures plus an
    in-plan combination explode — NOT a self-join. A self-join here plans
    the whole signature pipeline (explode + ``num_hashes`` md5 aggregates)
    once per join side plus once for the cap pre-pass: three full
    computations per materialization (measured 3x the signature cost at
    sf0.1, round 5). The grouped form computes signatures once for the
    pair stage (the cap's count pre-pass adds a second, noise-level
    evaluation — numbers in ``_pairs_from_band_sigs``), and the per-group
    id array is genuinely bounded by ``max_cluster``."""
    return _pairs_from_band_sigs(_band_signatures(documents, num_hashes, bands), max_cluster)


def _pairs_from_band_sigs(band_sigs: DataFrame, max_cluster: int) -> DataFrame:
    """Grouped candidate-pair generation shared by the classic and OPH
    LSH paths: one groupBy over (band, band_sig), in-plan combination
    explode (see minhash_lsh_candidates for the why of each piece).

    The viral-cluster cap runs as a COUNT-ONLY pre-pass joined back as a
    filter BEFORE the per-group id array is built: filtering after
    collect_list would still materialize a viral cluster's full id array
    (10^7 ids ≈ an 80 MB single aggregation buffer, per colliding band)
    — the exact task blowup the cap exists to prevent. The count
    aggregate is narrow keys with full map-side combine; the join-back
    is an equi-join on the same keys. The signature subplan is evaluated
    by both branches — A/B at sf0.1 (5 000 docs, 112 hashes, best-of-3,
    identical 955 745 pairs): post-collect filter 3.96 s, this shape
    4.46 s, a window-count filter (single evaluation, spill-buffered
    groups) 4.22 s at high steal. The ~0.5 s is the price of an actual
    (not claimed-only) bound on the aggregation buffer; the window
    variant was rejected because `observe` cannot express the per-GROUP
    drop metrics over exploded rows (no distinct aggregates)."""
    if max_cluster:
        counts = band_sigs.groupBy("band", "band_sig").agg(F.count("*").alias("_n"))
        oversized = F.col("_n") > max_cluster
        # metric names must be unique within one physical plan — suffix a
        # per-call sequence so two candidate sets can be unioned/joined
        counts = counts.observe(
            f"lsh_cap_drops_{next(_LSH_OBS_SEQ)}",
            F.sum(F.when(oversized, 1).otherwise(0)).alias("n_oversized_clusters"),
            F.sum(F.when(oversized, F.col("_n")).otherwise(0)).alias("n_docs_in_oversized"),
        )
        band_sigs = band_sigs.join(
            counts.filter(~oversized).select("band", "band_sig"),
            ["band", "band_sig"],
        )
    groups = band_sigs.groupBy("band", "band_sig").agg(
        F.sort_array(F.collect_list("doc_id")).alias("_ids"),
        F.count("*").alias("_n"),
    )
    pairs = (
        groups.filter(F.col("_n") >= 2)
        .select(
            F.explode(
                # ordered pairs within the (sorted) group: element i with
                # every later element — doc_a < doc_b by construction
                F.expr(
                    "flatten(transform(_ids, (x, i) -> "
                    "transform(slice(_ids, i + 2, size(_ids)), y -> "
                    "struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return pairs


def _oph_dense(documents: DataFrame, num_bins: int) -> DataFrame:
    """(doc_id, sig: array<long> length ``num_bins``) — one-permutation
    hashing (OPH) signature with rotation densification.

    OPH evaluates ONE base hash per token and buckets it — ``bin = h %
    num_bins``, ``sig[bin] = min(h)`` over the doc's tokens landing in that
    bin — instead of ``num_hashes`` affine transforms per token in the
    classic universal family (`_minhash_wide`). Measured **5.3× faster**
    at 112 hashes / sf0.1 under ≤0.5 % host steal (recorded in
    docs/ROUND5.md; the split-aggregate alternative was a regression).

    Empty bins (docs with fewer hashed tokens than bins) are filled by
    rotation densification (Shrivastava & Li's one-permutation hashing
    line of work): bin i borrows the value of the nearest non-empty bin to
    its cyclic right. Deterministic and purely relational — per-row array
    expressions, no window, no UDF — so the DuckDB oracle states the same
    fill as two IGNORE-NULLS window coalesces. Rotation (vs "optimal"
    randomized) densification correlates the fills of two sparse docs,
    biasing their estimated similarity up; acceptable here because LSH
    candidates are always re-verified by exact Jaccard, and the recall
    gate in tests/test_training_ops.py measures the net effect.

    Plan shape: the token explode reduces through a map-side partial
    aggregate on the narrow (doc_id, bin) key — the only wide shuffle; the
    second groupBy(doc_id) reshuffles at most ``num_bins`` 3-long rows per
    doc. Densification is a constant-size in-row array computation:
    the doubled array makes "nearest non-empty to the cyclic right" a
    plain slice+filter, O(num_bins²) on tiny arrays, JVM-side."""
    sc = documents.sparkSession.sparkContext
    tokens = _words()
    bins = (
        documents.repartition(sc.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(tokens).alias("word"))
        .select("doc_id", _minhash_base(F.col("word")).alias("h"))
        .withColumn("bin", (F.col("h") % F.lit(num_bins)).cast("int"))
        .groupBy("doc_id", "bin")
        .agg(F.min("h").alias("mh"))
    )
    per_doc = bins.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "mh"))).alias("m")
    )
    # OPH assumes docs fill most bins (token count >= num_bins). On a
    # short-doc corpus the estimator degrades (measured on the ~25-token
    # sf0.01 synth docs: recall 0.82 vs classic 0.99 at J>=0.8) — never
    # silently: this in-plan metric rides every materialization, counting
    # docs with fewer than num_bins/2 real (non-densified) bins.
    per_doc = per_doc.observe(
        f"oph_sparse_{next(_LSH_OBS_SEQ)}",
        F.sum(F.when(F.size("m") < num_bins // 2, 1).otherwise(0)).alias("n_sparse_docs"),
        F.count("*").alias("n_docs"),
    )
    idx = F.sequence(F.lit(0), F.lit(num_bins - 1))
    raw = F.transform(idx, lambda i: F.element_at(F.col("m"), i))
    doubled = F.concat(raw, raw)
    dense = F.transform(
        idx,
        lambda i: F.element_at(
            F.filter(F.slice(doubled, i + F.lit(1), F.lit(num_bins)), lambda x: x.isNotNull()),
            1,
        ),
    )
    return per_doc.select("doc_id", dense.alias("sig"))


def oph_signatures(documents: DataFrame, num_bins: int = LSH_HASHES) -> DataFrame:
    """Long-format OPH signatures (doc_id, seed, minhash) — the drop-in
    fast alternative to `minhash_signatures` (same output shape, different
    hash family: seed is the OPH bin index, minhash the densified per-bin
    min of the 32-bit base hash). Token-free documents emit no rows, as in
    the classic path."""
    return _oph_dense(documents, num_bins).select(
        "doc_id", F.posexplode("sig").alias("seed", "minhash")
    )


def _oph_band_signatures(documents: DataFrame, num_bins: int, bands: int) -> DataFrame:
    """(doc_id, band, band_sig) off the dense OPH signature row — banding
    is pure in-row array slicing, no extra shuffle past `_oph_dense`.

    Bands are STRIDED, not consecutive: band j takes bins {j, j+bands,
    j+2*bands, ...}. Rotation densification fills an empty bin from its
    cyclic-right neighbor, so sparse docs carry RUNS of identical values
    across consecutive bins; a consecutive band of r such bins can match
    on a single shared token, collapsing the S-curve toward all-pairs
    (measured: 117k candidate pairs vs the classic family's 55k on the
    sf0.01 near-dup corpus). Striding places each run's bins in distinct
    bands, restoring ~r quasi-independent comparisons per band."""
    r = num_bins // bands
    dense = _oph_dense(documents, num_bins)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("band"),
                F.concat_ws(
                    "|",
                    *[F.element_at("sig", j + k * bands + 1).cast("string") for k in range(r)],
                ).alias("band_sig"),
            )
            for j in range(bands)
        ]
    )
    return dense.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig")
    )


def oph_lsh_candidates(documents: DataFrame) -> DataFrame:
    """LSH candidate pairs over OPH signatures — same banding S-curve,
    cap semantics, observe metric, and grouped pair generation as
    `minhash_lsh_candidates` (shared `_pairs_from_band_sigs`), at ~5×
    less signature CPU. Use when the corpus is tokenize-bound and the
    downstream verifier (exact Jaccard / containment) is in place; keep
    the classic family where cross-engine signature parity matters."""
    return _pairs_from_band_sigs(_oph_band_signatures(documents, LSH_HASHES, LSH_BANDS), LSH_CAP)


def ngram_jaccard(documents: DataFrame, candidates: DataFrame) -> DataFrame:
    """Verify candidate pairs with exact word-set Jaccard (join back the
    token sets only for the candidate pairs — never all-pairs)."""
    toks = documents.select("doc_id", _words().alias("words"))
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        candidates.join(a, candidates["doc_a"] == F.col("a.doc_id"))
        .join(b, candidates["doc_b"] == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("a.words", "b.words"))
                / F.size(F.array_union("a.words", "b.words")),
                4,
            ).alias("jaccard"),
        )
    )


def ngram_jaccard_pct(documents: DataFrame, candidates: DataFrame) -> DataFrame:
    """ngram_jaccard's exact-integer sibling: verify candidate pairs with
    word-set Jaccard as the integer percentage ``100 * |A∩B| div |A∪B|``
    (the same engine-bit-exact arithmetic incremental_dedup_decisions
    uses), so downstream consumers that derive integer edge WEIGHTS from
    the similarity (weighted_sssp's ``100 - pct`` dissimilarity) stay
    reproducible across engines. Same scale shape as ngram_jaccard: token
    sets join back only for the candidate pairs, never all-pairs."""
    toks = documents.select("doc_id", _words().alias("words"))
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        candidates.join(a, candidates["doc_a"] == F.col("a.doc_id"))
        .join(b, candidates["doc_b"] == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "CAST(100 * size(array_intersect(a.words, b.words)) AS BIGINT)"
                " div CAST(size(array_union(a.words, b.words)) AS BIGINT)"
            ).alias("jaccard_pct"),
        )
    )


def simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash over portable md5 word hashes, returned as a 16-char
    hex string (JVM-side; bit votes via aggregate over exploded words).

    The word hash is the md5 hex digest's first 16 nibbles — the same
    portable family minhash_signatures uses — so any ANSI-SQL engine
    reproduces the signature bit-for-bit (no xxhash64, no signed-64 sign-bit
    ambiguity). Output nibble p (1-based, most-significant first) is the
    majority vote of input nibble p across the document's distinct words;
    ties vote 0."""
    sc = documents.sparkSession.sparkContext
    words = documents.repartition(sc.defaultParallelism, "doc_id").select(
        "doc_id", F.explode(_words()).alias("word")
    )
    hashed = words.withColumn("h", F.md5("word"))
    # 16 nibbles × 4 bits: vote v(p,k) over bit (3-k) of hex digit p
    digit = [F.conv(F.substring(F.col("h"), p, 1), 16, 10).cast("int") for p in range(1, 17)]
    vote_cols = [
        F.sum(
            F.when(F.shiftright(digit[p], 3 - k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{p}_{k}")
        for p in range(16)
        for k in range(4)
    ]
    votes = hashed.groupBy("doc_id").agg(*vote_cols)
    nibbles = []
    for p in range(16):
        val = sum(
            (F.when(F.col(f"v{p}_{k}") > 0, F.lit(1 << (3 - k))).otherwise(F.lit(0)))
            for k in range(4)
        )
        nibbles.append(F.lower(F.conv(val.cast("string"), 10, 16)))
    return votes.select("doc_id", F.concat(*nibbles).alias("simhash"))


def _verified_near_dup_pairs(
    documents: DataFrame,
    jaccard_threshold: float,
    _ckpt_sink: list | None = None,
) -> DataFrame:
    """``ngram_jaccard(documents, minhash_lsh_candidates(documents))
    .filter(jaccard >= threshold)`` — same rows, restructured for the
    clustering consumer (round-6 optimization, ~2x at sf1):

    * checkpoint the band signatures so the viral-cap count pre-pass and
      the pair groupBy share one minhash evaluation (the composed form
      evaluates the 112-aggregate pipeline twice — guide §2.4: two
      operations keyed the same way share one computation). A caller
      that materializes the result eagerly can pass ``_ckpt_sink`` (a
      list) to receive the checkpointed frame and unpersist it once the
      pairs are consumed — long sessions running many dedups otherwise
      accumulate checkpoint blocks until the context cleaner catches up;
    * carry each doc's distinct-word COUNT (a free ``count(*)`` in the
      signature aggregate) through the band explode and drop candidate
      pairs that PROVABLY fail the jaccard threshold inside the pair-
      generation expression, before any shuffle: J(A,B) <= min/max sizes,
      and round(J,4) >= t requires J >= t - 0.00005, so a pair with
      min < max*(t - 1e-4) can never pass the verify filter (the 1e-4
      margin strictly covers the rounding slack plus float error). At sf1
      this halves the distinct shuffle and cuts the array_intersect work
      2.3x (11.93M candidates -> 5.12M size-plausible) with zero effect
      on the verified output — gated by a pytest equivalence test.

    Scale shape is unchanged: narrow-key groupBy everywhere, the text
    column dies before any shuffle, the viral-cluster cap still runs as a
    count-only pre-pass (same observe metric), and the verify join's
    build side is Catalyst's choice (broadcast locally, sort-merge at
    corpus scale)."""
    num_hashes, bands, max_cluster = LSH_HASHES, LSH_BANDS, LSH_CAP
    sc = documents.sparkSession.sparkContext
    # NOT checkpointed: the verify joins below must keep the scan-derived
    # size statistics so Catalyst can pick a broadcast build side locally
    # (a checkpointed token table reports unknown size and forced a
    # sort-merge shuffle of every candidate pair — measured 2x slower than
    # re-tokenizing; at corpus scale the estimate is large and the join
    # degrades to sort-merge exactly as it should)
    toks = documents.select(F.col("doc_id").cast("long").alias("doc_id"), _words().alias("words"))
    hashed = (
        documents.repartition(sc.defaultParallelism, "doc_id")
        .select(F.col("doc_id").cast("long").alias("doc_id"), F.explode(_words()).alias("word"))
        .select("doc_id", _minhash_base(F.col("word")).alias("h"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_family(num_hashes))
    ]
    # token rows per doc == size of the (distinct) word array — the size
    # bound below costs nothing extra
    per_doc = hashed.groupBy("doc_id").agg(*aggs, F.count("*").alias("nw"))
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("band"),
                F.concat_ws(
                    "|",
                    *[F.col(f"m{j * rows_per_band + k}").cast("string") for k in range(rows_per_band)],
                ).alias("band_sig"),
            )
            for j in range(bands)
        ]
    )
    band_sigs = (
        per_doc.select("doc_id", "nw", F.explode(band_structs).alias("bs"))
        .select("doc_id", "nw", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
        .localCheckpoint(eager=True)
    )
    if _ckpt_sink is not None:
        _ckpt_sink.append(band_sigs)
    counts = band_sigs.groupBy("band", "band_sig").agg(F.count("*").alias("_n"))
    if max_cluster:
        oversized = F.col("_n") > max_cluster
        counts = counts.observe(
            f"lsh_cap_drops_{next(_LSH_OBS_SEQ)}",
            F.sum(F.when(oversized, 1).otherwise(0)).alias("n_oversized_clusters"),
            F.sum(F.when(oversized, F.col("_n")).otherwise(0)).alias("n_docs_in_oversized"),
        )
    else:
        oversized = F.lit(False)
    # singleton groups (_n = 1) can emit no pair — dropping their rows at
    # the join-back (instead of after the collect_list, as the composed
    # path does) shrinks the group aggregate's input; output-identical
    band_sigs = band_sigs.join(
        counts.filter(~oversized & (F.col("_n") >= 2)).select("band", "band_sig"),
        ["band", "band_sig"],
    )
    groups = band_sigs.groupBy("band", "band_sig").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "nw"))).alias("_ids"),
    )
    jmin = float(jaccard_threshold) - 1e-4
    pair_expr = (
        "flatten(transform(_ids, (x, i) -> "
        "filter(transform(slice(_ids, i + 2, size(_ids)), y -> "
        "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, x.nw AS na, y.nw AS nb)), "
        f"p -> least(p.na, p.nb) >= greatest(p.na, p.nb) * {jmin!r})))"
    )
    # na/nb exist only inside the pair-generation filter; the distinct
    # shuffles bare (doc_a, doc_b) ids — half the row width — and the
    # verify recovers the sizes for free from the joined arrays, computing
    # the union as |A| + |B| - |A∩B| (set identity over distinct arrays)
    # instead of a second array_union hash-set build
    cand = (
        groups.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    isect = F.size(F.array_intersect("wa", "wb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(isect / (F.size("wa") + F.size("wb") - isect), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def duplicate_clusters(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    jaccard_threshold: float = 0.9,
    max_rounds: int = 50,
) -> DataFrame:
    """Near-duplicate clusters: (doc_id, cluster_id) for EVERY document,
    cluster_id = min doc_id of the doc's connected component in the
    verified near-dup pair graph (singletons map to themselves). This is
    the piece that turns pair lists into dedup decisions: keep
    ``doc_id == cluster_id``, drop the rest.

    ``pairs`` defaults to the full scale pipeline: MinHash-LSH candidates
    (banded equi-join, viral-cluster cap) verified by exact word-set
    Jaccard >= ``jaccard_threshold`` (the filter applies to the ROUNDED
    jaccard so any engine reproducing the verify column classifies pairs
    identically) — computed via ``_verified_near_dup_pairs``, which is
    row-identical to composing ``ngram_jaccard`` over
    ``minhash_lsh_candidates`` but tokenizes/signs once and size-prunes
    candidates (pytest-gated equivalence). Components via alternating
    large-star/small-star — O(log n) rounds, edge-list-bounded
    intermediates (see ``operators.graph.alternating_star_components``)."""
    ckpts: list = []
    if pairs is None:
        pairs = _verified_near_dup_pairs(documents, jaccard_threshold, _ckpt_sink=ckpts)
    from ..operators.graph import _label_components

    labels = _label_components(
        documents.select(F.col("doc_id").cast("long").alias("node")),
        pairs.select(
            F.col("doc_a").cast("long").alias("src"), F.col("doc_b").cast("long").alias("dst")
        ),
        max_rounds=max_rounds,
    )
    # the component run materializes the pair graph into its own checkpoint
    # eagerly, so the signature checkpoint is dead weight from here on
    for df in ckpts:
        df.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component").cast("long").alias("cluster_id")
    )


def simhash_near_dup_pairs(
    documents: DataFrame, bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs at scale: the 16-nibble signature splits
    into ``bands`` equal substrings; docs sharing ANY band become candidates
    (equi-join per band, distinct — never all-pairs), then the exact
    hamming distance filters candidates. The default max_hamming = bands-1
    stays in the pigeonhole-COMPLETE regime (≤ bands-1 differing bits
    cannot touch every band, so every qualifying pair shares a band —
    recall 1.0 by construction). Raising max_hamming past bands-1 turns
    banding into a recall<1 prefilter; raise ``bands`` with it to
    compensate. All JVM built-ins; the oracle reproduces signatures, bands
    and popcounts.

    Plan shape (gated in tests/test_plans.py): each doc explodes to one row
    per (band, band_sig) and the self-join keys on that pair — a shuffled
    EQUI-join, like minhash's _band_signatures. An OR of per-band equality
    predicates would express the same result but gives Catalyst no
    conjunctive equi-key, planning BroadcastNestedLoopJoin — all-pairs
    O(n²), fatal at corpus scale.

    Measured and rejected (round 5, sf0.1, identical 166 267 pairs all
    three ways): (a) localCheckpoint on the banded signatures — 8.39 s vs
    8.56 s inline (exchange reuse already avoids a second signature
    pass); (b) the grouped collect_list + combination-explode shape that
    won for minhash — 29.1 s, 3.4× WORSE here, because these groups are
    uncapped and carry 16-char simhash structs instead of capped long
    ids. The self-join stays.

    Round-6 restructure (output row-identical — symdiff 0 on the full
    166 267-pair sf0.1 set; measured 7.0 s → 1.9 s at sf0.1 and a
    >300 s sf1 census kill → ~26 s at 50 k docs, where one 16-bit band
    value collides 11 k docs and the old shape materialized ~10⁸ joined
    rows each carrying two 16-char strings and paying a 32-conv
    nibble-wise hamming BEFORE the distinct):

    * the band self-join now shuffles bare (doc_id, band, band_sig)
      rows and emits bare id pairs; the signature is joined back AFTER
      the distinct, so the hamming runs once per DISTINCT candidate
      pair instead of once per colliding band row;
    * the hamming is two 32-bit half XOR + bit_counts over conv'd
      halves — bit-identical to the 16-nibble sum (same bits, grouped
      differently), at 1/16th the expression count."""
    sigs = simhash(documents)
    width = 16 // bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("simhash", 1 + i * width, width).alias("band_sig"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.band_sig").alias("band_sig"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    halves = sigs.select(
        "doc_id",
        F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    sa = halves.select(F.col("doc_id").alias("doc_a"), F.col("h1").alias("a1"), F.col("h2").alias("a2"))
    sb = halves.select(F.col("doc_id").alias("doc_b"), F.col("h1").alias("b1"), F.col("h2").alias("b2"))
    ham = (
        F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
        + F.bit_count(F.col("a2").bitwiseXOR(F.col("b2")))
    ).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_containment(documents: DataFrame, candidates: DataFrame) -> DataFrame:
    """Directional containment for candidate pairs: |A∩B| / |A| and
    |A∩B| / |B| (word sets). Jaccard misses ASYMMETRIC duplication — a
    short doc fully quoted inside a long one scores low Jaccard but
    containment ≈ 1 on the short side; dedup pipelines drop the contained
    doc. Same never-all-pairs shape as ngram_jaccard: token sets join back
    only for the candidate pairs."""
    toks = documents.select("doc_id", _words().alias("words"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect("a.words", "b.words"))
    return (
        candidates.join(a, candidates["doc_a"] == F.col("a.doc_id"))
        .join(b, candidates["doc_b"] == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / F.greatest(F.size("a.words"), F.lit(1)), 4).alias("containment_a"),
            F.round(inter / F.greatest(F.size("b.words"), F.lit(1)), 4).alias("containment_b"),
        )
    )


def repeated_spans(
    documents: DataFrame,
    candidates: DataFrame,
    n: int = 5,
    max_gram_freq: int = 16,
) -> DataFrame:
    """Longest exactly-repeated token span per candidate pair — the
    relational core of exact-substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better": near-dup signals miss
    long verbatim passages inside otherwise-different documents; pipelines
    cut the SPAN, not the doc).

    Word ``n``-grams with positions; for each candidate (doc_a, doc_b),
    positions of equal grams land on diagonals (pos_a - pos_b), and a run
    of k consecutive matches on one diagonal is a shared span of
    k + n - 1 tokens (gaps-and-islands: island = pos_a - row_number per
    diagonal). Returns (doc_a, doc_b, span_tokens, start_a, start_b) for
    each pair's LONGEST span (ties: min start_a, then min start_b) —
    pairs sharing no n-gram emit no row.

    Scale shape: never all-pairs — grams join only within the candidate
    set (LSH output upstream); grams shuffle as 8-byte xxhash64 keys, not
    strings (a cross-gram collision could at worst weld two islands —
    P ~ positions²/2⁶⁴, ignorable; the DuckDB oracle joins raw gram text
    and must agree cell-for-cell, so the gate itself falsifies collision
    damage). Grams repeating > ``max_gram_freq`` times WITHIN a doc are
    dropped on both sides before the join — an ultra-repetitive doc
    ("ha ha ha ..." × 10⁴) would otherwise send freq² position pairs per
    gram into one (pair, diagonal) window partition; such docs are
    text_repetition_metrics' concern, and the identical QUALIFY filter in
    the oracle keeps the two engines aligned."""
    from pyspark.sql.window import Window

    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    base = (
        documents.filter(F.col("text").isNotNull())
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= n)
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (n - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, n))),
            )
        ).alias("pos", "h"),
    )
    wf = Window.partitionBy("doc_id", "h")
    grams = grams.withColumn("_f", F.count("*").over(wf)).filter(
        F.col("_f") <= max_gram_freq
    ).drop("_f")

    # Measured and rejected (round 5): localCheckpoint on the candidate
    # pairs and/or the gram stream. Stage decomposition at sf0.1 showed
    # Catalyst plans the LSH candidate pipeline ONCE here (3.8 s cands +
    # 5.8 s gram-join/windows ≈ the 10.8 s total), so a checkpoint only
    # adds 956 k rows of eager materialization — flat for this query and
    # 9.9 → 13.3 s WORSE for substring_cut_plan built on top.
    pa, pb = grams.alias("pa"), grams.alias("pb")
    m = (
        candidates.select("doc_a", "doc_b")
        .join(pa, F.col("doc_a") == F.col("pa.doc_id"))
        .join(pb, (F.col("doc_b") == F.col("pb.doc_id")) & (F.col("pa.h") == F.col("pb.h")))
        .select(
            "doc_a",
            "doc_b",
            F.col("pa.pos").alias("pos_a"),
            F.col("pb.pos").alias("pos_b"),
            (F.col("pa.pos") - F.col("pb.pos")).alias("diag"),
        )
    )
    wd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        m.withColumn("_isl", F.col("pos_a") - F.row_number().over(wd))
        .groupBy("doc_a", "doc_b", "diag", "_isl")
        .agg(
            (F.count("*") + (n - 1)).cast("long").alias("span_tokens"),
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
        )
    )
    wbest = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.desc("span_tokens"), F.asc("start_a"), F.asc("start_b")
    )
    return (
        runs.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .select("doc_a", "doc_b", "span_tokens", "start_a", "start_b")
    )


def substring_cut_plan(documents: DataFrame, candidates: DataFrame, min_span: int = 6) -> DataFrame:
    """From signal to action (Lee et al. exact-substring dedup): each
    candidate pair's longest shared span (repeated_spans) of at least
    ``min_span`` tokens is CUT from the pair's LATER document (larger
    doc_id — the canonical-keeps-the-text rule); overlapping cuts within
    a doc merge into maximal ranges (gaps-and-islands over a running max
    of ends). Returns (doc_id, cut_start, cut_end, n_toks_cut), 0-based
    inclusive token offsets.

    Shape: repeated_spans' narrow output filtered and windowed per doc —
    nothing new touches the text."""
    n = 5
    max_gram_freq = 16
    from pyspark.sql.window import Window

    spans = repeated_spans(
        documents, candidates, n=n, max_gram_freq=max_gram_freq
    ).filter(F.col("span_tokens") >= min_span)
    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("_s"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("_e"),
    )
    w = Window.partitionBy("doc_id").orderBy("_s")
    prev_max = F.max("_e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_isl = F.when(prev_max.isNull() | (F.col("_s") > prev_max), 1).otherwise(0)
    return (
        cuts.withColumn("_isl", F.sum(new_isl).over(w))
        .groupBy("doc_id", "_isl")
        .agg(
            F.min("_s").cast("long").alias("cut_start"),
            F.max("_e").cast("long").alias("cut_end"),
        )
        .select(
            "doc_id",
            "cut_start",
            "cut_end",
            (F.col("cut_end") - F.col("cut_start") + 1).alias("n_toks_cut"),
        )
    )


def incremental_dedup_decisions(
    index_docs: DataFrame,
    new_docs: DataFrame,
    threshold_pct: int = 70,
    max_cluster: int = LSH_CAP,
    broadcast_new: bool = True,
) -> DataFrame:
    """(doc_id, n_candidates, best_match_id, best_jaccard_pct, verdict) —
    one row per NEW document: admit it or reject it as a duplicate of an
    EXISTING corpus, without re-deduping the corpus.

    ``broadcast_new`` (default True) forces the batch-side signatures to
    broadcast — correct for the daily-ingest shape where the batch is
    tiny next to the index. Pass False for a batch too large to
    broadcast (e.g. a backfill): the probe becomes a plain shuffled
    equi-join on (band, band_sig), still never all-pairs.

    This is the daily-ingest shape at 100 TB: the corpus-side band
    signatures are computed ONCE (in production they live as a persisted
    table keyed by (band, band_sig) — exactly what `_band_signatures`
    emits) and each incoming batch probes them. The batch side is tiny
    relative to the index, so its signatures are broadcast: the index
    never shuffles, the probe is a map-side join against the big table.
    Candidate pairs then verify with exact word-set Jaccard (token sets
    joined back ONLY for candidates, never all-pairs), reported as the
    integer percentage ``100 * |A∩B| div |A∪B]`` so any ANSI-SQL engine
    reproduces the ranking bit-for-bit.

    Hot index signatures (> ``max_cluster`` docs sharing one band sig)
    are excluded like `minhash_lsh_candidates` does — a viral duplicate
    cluster would otherwise fan every colliding new doc out to g index
    rows — with the same non-silent ``observe`` metric. Decision: the
    best candidate is the highest-Jaccard index doc (ties to the lowest
    doc_id, deterministic); verdict 'duplicate' iff its percentage meets
    ``threshold_pct``, else 'admitted'. New docs with no candidates —
    including token-free docs, which emit no signature — are admitted
    with n_candidates = 0 and NULL best columns."""
    from pyspark.sql.window import Window

    idx = _band_signatures(index_docs, LSH_HASHES, LSH_BANDS).withColumnRenamed(
        "doc_id", "idx_id"
    )
    if max_cluster:
        hot = F.col("_n") > max_cluster
        counts = idx.groupBy("band", "band_sig").agg(F.count("*").alias("_n"))
        counts = counts.observe(
            f"lsh_cap_drops_{next(_LSH_OBS_SEQ)}",
            F.sum(F.when(hot, 1).otherwise(0)).alias("n_oversized_clusters"),
            F.sum(F.when(hot, F.col("_n")).otherwise(0)).alias("n_docs_in_oversized"),
        )
        idx = idx.join(
            counts.filter(~hot).select("band", "band_sig"), ["band", "band_sig"]
        )
    new_sigs = _band_signatures(new_docs, LSH_HASHES, LSH_BANDS)
    if broadcast_new:
        new_sigs = F.broadcast(new_sigs)
    cands = (
        new_sigs.join(idx, ["band", "band_sig"])
        .select("doc_id", "idx_id")
        .distinct()
    )
    scored = (
        cands.join(new_docs.select("doc_id", _words().alias("_wa")), "doc_id")
        .join(
            index_docs.select(F.col("doc_id").alias("idx_id"), _words().alias("_wb")),
            "idx_id",
        )
        .select(
            "doc_id",
            "idx_id",
            F.expr(
                "CAST(100 * size(array_intersect(_wa, _wb)) AS BIGINT)"
                " div CAST(size(array_union(_wa, _wb)) AS BIGINT)"
            ).alias("jaccard_pct"),
        )
    )
    w = Window.partitionBy("doc_id")
    best = (
        scored.withColumn(
            "_rn",
            F.row_number().over(w.orderBy(F.col("jaccard_pct").desc(), "idx_id")),
        )
        .withColumn("_nc", F.count("*").over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("_nc").cast("long").alias("n_candidates"),
            F.col("idx_id").alias("best_match_id"),
            F.col("jaccard_pct").alias("best_jaccard_pct"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .na.fill({"n_candidates": 0})
        .withColumn(
            "verdict",
            F.when(F.col("best_jaccard_pct") >= threshold_pct, F.lit("duplicate"))
            .otherwise(F.lit("admitted")),
        )
    )


def ppjoin_pairs(documents: DataFrame, tau_bp: int = 6000) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): every pair of documents whose word-set Jaccard ≥ τ, with
    the exact similarity, and NO all-pairs comparison. This is the
    exact counterpart of the MinHash-LSH stack above: LSH trades recall
    for speed; prefix filtering keeps 100% recall and prunes instead —
    the right tool when the dedup decision must be auditable.

    How the pruning works, all in integer arithmetic (τ given in basis
    points): a qualifying pair needs overlap ≥ ⌈τ·|x|⌉ for each side
    (J = i/(|x|+|y|−i) ≥ τ and |y| ≥ i imply i ≥ τ·|x|), and by the
    prefix-filter lemma two sets with overlap ≥ t share a token among
    the first |set| − t + 1 tokens under ANY shared total order — so
    docs are joined only on tokens in their prefixes under the
    global (document-frequency asc, token) order (rarest tokens first,
    which makes prefixes maximally selective). Survivors pass the size
    filter τ·|x| ≤ |y| (both directions, cross-multiplied) and then
    exact verification.

    Scale shape: the vocabulary table gets one window for the global
    rank; each doc keeps only its prefix (size |x| − ⌈τ|x|⌉ + 1) for
    the candidate equi-join; verification joins candidates back to the
    (doc, token) table on doc_a's tokens and counts matches. Viral
    prefix tokens are bounded by the rarest-first order, but a corpus
    of near-identical docs legitimately yields quadratic OUTPUT — the
    filter is exact, not a cap. Token-free docs yield no tokens and so
    no pairs.

    Output: (doc_a, doc_b, n_a, n_b, n_inter, jaccard_bp) with
    doc_a < doc_b and jaccard_bp ≥ tau_bp, truncated.

    Round-6 restructure (output row-identical, pytest-gated): the whole
    prefix/verify pipeline runs over TOKEN-SET EQUIVALENCE CLASSES —
    docs with identical distinct-word sets collapse to one
    representative (the min doc_id), since every quantity in the output
    (sizes, overlap, jaccard) depends only on the set pair. Identical-
    set pairs are emitted directly at jaccard 10⁴ (|A∩A| = |A|); class
    pairs verify ONCE via ``size(array_intersect)`` over the two sorted
    distinct arrays (the same value the old count-join produced) and
    expand members only into output rows. The prefix lemma holds under
    ANY shared total order, so ranking tokens by CLASS-level df keeps
    100 % recall; candidates that the order admits beyond the old one
    die in the exact verify, leaving the output unchanged. On a corpus
    with no duplicate sets every class is a singleton and the shape
    reduces to the old pipeline (one extra narrow window). This is the
    published degenerate case of prefix filtering — a tiny/uniform
    vocabulary puts the same rare tokens in most prefixes — made
    tractable by deduplicating the sets before the quadratic step.
    """
    from pyspark.sql.window import Window

    dt = documents.select(
        "doc_id", F.explode(_words()).alias("tok")
    ).dropDuplicates(["doc_id", "tok"])
    docs_arr = dt.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("toks"),
        F.count(F.lit(1)).cast("long").alias("sz"),
    )
    # ONE class window (one shuffle of the token arrays) feeds both the
    # member map and the representatives; only a representative's token
    # array is read downstream, so the others are dropped before the
    # checkpoint
    classed = (
        docs_arr.withColumn("cls", F.min("doc_id").over(Window.partitionBy("toks")))
        .withColumn("toks", F.when(F.col("doc_id") == F.col("cls"), F.col("toks")))
        .localCheckpoint(eager=True)
    )
    members = classed.select("doc_id", "cls", "sz")
    reps = classed.filter(F.col("doc_id") == F.col("cls")).select("cls", "toks", "sz")
    ct = reps.select("cls", F.explode("toks").alias("tok"), "sz")
    vocab = ct.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked_vocab = vocab.withColumn(
        "trank", F.row_number().over(Window.orderBy(F.asc("_df"), F.asc("tok")))
    ).select("tok", "trank")
    ordered = ct.join(ranked_vocab, "tok").withColumn(
        "_pos", F.row_number().over(Window.partitionBy("cls").orderBy("trank"))
    )
    # prefix length = sz - ceil(tau*sz) + 1; ceil(a/b) = (a + b - 1) div b
    prefix = ordered.filter(
        F.col("_pos")
        <= F.col("sz") - F.expr(f"(sz * {int(tau_bp)} + 9999) div 10000") + 1
    ).select("cls", "tok", "sz", "_pos")
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    # PPJoin positional filter (Xiao et al.): a qualifying pair needs
    # overlap i with i·(10⁴+τ) ≥ τ·(na+nb) (the truncated-div jaccard ≥ τ
    # restated exactly over integers), and at the pair's FIRST shared
    # token — positions (p_a, p_b) in the shared order — the overlap is
    # at most 1 + min(na−p_a, nb−p_b); a pair whose every shared prefix
    # token fails the bound cannot qualify, and the first shared token of
    # any qualifying pair passes it, so dropDuplicates keeps exactly the
    # qualifying-candidate set.
    t_req = F.expr(
        f"(({int(tau_bp)} * (pa.sz + pb.sz)) + {10000 + int(tau_bp)} - 1)"
        f" div {10000 + int(tau_bp)}"
    )
    ub = F.lit(1) + F.least(
        F.col("pa.sz") - F.col("pa._pos"), F.col("pb.sz") - F.col("pb._pos")
    )
    cands = (
        pa.join(pb, F.col("pa.tok") == F.col("pb.tok"))
        .filter(F.col("pa.cls") < F.col("pb.cls"))
        # size filter both ways: tau*max(sz) <= min(sz)
        .filter(
            (F.col("pa.sz") * 10000 >= F.col("pb.sz") * int(tau_bp))
            & (F.col("pb.sz") * 10000 >= F.col("pa.sz") * int(tau_bp))
        )
        .filter(ub >= t_req)
        .select(F.col("pa.cls").alias("ca"), F.col("pb.cls").alias("cb"))
        .dropDuplicates(["ca", "cb"])
    )
    ra = reps.select(F.col("cls").alias("ca"), F.col("toks").alias("_ta"), F.col("sz").alias("n_a"))
    rb = reps.select(F.col("cls").alias("cb"), F.col("toks").alias("_tb"), F.col("sz").alias("n_b"))
    cls_pairs = (
        cands.join(ra, "ca")
        .join(rb, "cb")
        .withColumn("n_inter", F.size(F.array_intersect("_ta", "_tb")).cast("long"))
        .withColumn(
            "jaccard_bp",
            F.expr(
                "(cast(n_inter as decimal(38,0)) * 10000)"
                " div (n_a + n_b - n_inter)"
            ).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= int(tau_bp))
        .select("ca", "cb", "n_a", "n_b", "n_inter", "jaccard_bp")
    )
    # identical-set pairs: jaccard exactly 10^4 — ≥ tau_bp for every
    # valid threshold; the explicit filter keeps even a degenerate
    # tau_bp > 10^4 output-identical to the verify path (empty)
    twin_pairs = (
        reps.filter(F.lit(10000) >= F.lit(int(tau_bp)))
        .select(F.col("cls").alias("_c"), F.col("sz").alias("n_a"))
        .withColumn("n_b", F.col("n_a"))
        .withColumn("n_inter", F.col("n_a"))
        .withColumn("jaccard_bp", F.lit(10000).cast("long"))
        .withColumnRenamed("_c", "ca")
        .withColumn("cb", F.col("ca"))
        .select("ca", "cb", "n_a", "n_b", "n_inter", "jaccard_bp")
    )
    mem = members.select("cls", "doc_id")
    cross = (
        cls_pairs.join(mem.select(F.col("cls").alias("ca"), F.col("doc_id").alias("ia")), "ca")
        .join(mem.select(F.col("cls").alias("cb"), F.col("doc_id").alias("ib")), "cb")
    )
    within = (
        twin_pairs.join(mem.select(F.col("cls").alias("ca"), F.col("doc_id").alias("ia")), "ca")
        .join(mem.select(F.col("cls").alias("cb"), F.col("doc_id").alias("ib")), "cb")
        .filter(F.col("ia") < F.col("ib"))
    )
    swap = F.col("ia") <= F.col("ib")
    cols = ["ia", "ib", "n_a", "n_b", "n_inter", "jaccard_bp"]
    return (
        cross.select(*cols).unionByName(within.select(*cols))
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_a"),
            F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_b"),
            "n_inter",
            "jaccard_bp",
        )
    )


def cdc_chunk_census(
    documents: DataFrame, w: int = 6, modulus: int = 32
) -> DataFrame:
    """Content-defined chunking (LBFS/rsync-style) storage-dedup census:
    each document splits at positions where the rolling ``w``-char window
    hashes to 0 mod ``modulus`` (expected chunk ~``modulus`` chars), and
    the census reports how much of the corpus is REDUNDANT at chunk
    granularity — the number a dedup store quotes as its savings.
    Because boundaries depend on CONTENT, not offsets, an insertion early
    in a near-duplicate shifts every byte but only the chunk containing
    the edit changes identity — the property offset-based (fixed-size)
    chunking lacks, and the reason near-dup-heavy corpora dedup well
    here. One row: (n_docs, n_chunks, n_unique_chunks, total_chars,
    unique_chars, dup_chunk_bp, savings_bp).

    Engine-portable determinism: the boundary hash is the shared md5
    base hash of the exact window substring; chunk identity is md5 of
    the chunk text. The document end is always a (sentinel) boundary;
    empty docs contribute no chunks.

    Scale shape: boundary detection explodes positions but keeps only
    (doc_id, position) survivors (~len/modulus per doc); chunk spans
    come from a per-doc lag window over those narrow rows; the text
    column is joined back ONCE per chunk row and dies inside the same
    stage (projected to (hash, len) immediately). Census = two 1-row
    aggregates."""
    from pyspark.sql.window import Window

    base = documents.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("_t")
    ).withColumn("_len", F.length("_t"))
    nonempty = base.filter(F.col("_len") >= 1)
    wins = nonempty.select(
        "doc_id",
        "_t",
        F.explode(
            F.when(
                F.col("_len") >= w, F.sequence(F.lit(w), F.col("_len"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
    )
    cut = _minhash_base(F.expr(f"substring(_t, i - {w} + 1, {w})")) % modulus == 0
    bounds = (
        wins.filter(cut)
        .select("doc_id", F.col("i").cast("long").alias("b"))
        .union(nonempty.select("doc_id", F.col("_len").cast("long").alias("b")))
        .distinct()
    )
    wd = Window.partitionBy("doc_id").orderBy("b")
    spans = bounds.withColumn(
        "start", F.coalesce(F.lag("b").over(wd) + 1, F.lit(1))
    ).select("doc_id", "start", (F.col("b") - F.col("start") + 1).alias("blen"))
    chunks = spans.join(base.select("doc_id", "_t"), "doc_id").select(
        F.md5(F.expr("substring(_t, start, blen)")).alias("h"),
        F.col("blen").cast("long").alias("blen"),
    )
    totals = chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("blen").cast("long").alias("total_chars"),
    )
    uniq = (
        chunks.groupBy("h")
        .agg(F.max("blen").alias("_l"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
            F.sum("_l").cast("long").alias("unique_chars"),
        )
    )
    n_docs = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        n_docs.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(uniq))
        .select(
            "n_docs",
            "n_chunks",
            "n_unique_chunks",
            "total_chars",
            "unique_chars",
            F.expr(
                "CAST(CASE WHEN n_chunks > 0 THEN"
                " 10000 * (n_chunks - n_unique_chunks) div n_chunks END AS BIGINT)"
            ).alias("dup_chunk_bp"),
            F.expr(
                "CAST(CASE WHEN total_chars > 0 THEN"
                " 10000 * (total_chars - unique_chars) div total_chars END AS BIGINT)"
            ).alias("savings_bp"),
        )
    )


def near_dup_split_leakage(
    documents: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """Cross-split contamination census over VERIFIED near-duplicate
    pairs: an LSH candidate pair with n-gram Jaccard ≥ ``threshold``
    whose two documents land in different train/val/test splits is
    evaluation leakage — the val/test member scores a near-copy of a
    training document. Composes the existing scale path (banded LSH →
    Jaccard verify, never all-pairs) with the shared hash-split rule
    (training/text.py::hash_split_expr), so this census can never
    disagree with the dedup pipeline or the split report.

    Output per leaking pair: (doc_a, doc_b, jaccard, split_a, split_b).
    The exact-duplicate variant below is the degenerate case (identical
    normalized text); this one catches what it misses — light edits,
    boilerplate rewraps.

    Scale shape: adds only a pure per-row split expression and an
    inequality filter on top of the candidate-verify join — no new
    shuffle (the split tag is computed on the pair rows directly from
    the ids, join-free).
    """
    pairs = ngram_jaccard(documents, minhash_lsh_candidates(documents))
    from .text import hash_split_expr

    return (
        pairs.filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            hash_split_expr(F.col("doc_a")).alias("split_a"),
            hash_split_expr(F.col("doc_b")).alias("split_b"),
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


def dup_rate_by_group(documents: DataFrame) -> DataFrame:
    """EXACT duplicate-rate dashboard per group — the per-language
    curation metric a corpus report leads with: how much of each
    slice is byte-identical repetition? n_docs, distinct md5(text)
    (NULL text coalesced to '' — the curation null-hardening
    convention), and dup_rate_bp = (n − n_distinct)·10⁴ div n.

    Scale shape: one groupBy(group) with a distinct-count over the
    128-bit content hash — never the text itself — so the shuffle
    carries 32-byte digests (the exact-dedup plan's reporting twin).
    Output: (grp, n_docs, n_distinct, dup_rate_bp).
    """
    h = F.md5(F.coalesce(F.col("text"), F.lit("")))
    return (
        documents.select(F.col("lang").alias("grp"), h.alias("h"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
        )
        .select(
            "grp",
            "n_docs",
            "n_distinct",
            F.expr("CAST((10000 * (n_docs - n_distinct)) div n_docs AS BIGINT)")
            .alias("dup_rate_bp"),
        )
    )


def jaccard_threshold_sweep(documents: DataFrame) -> DataFrame:
    """DEDUP THRESHOLD TUNING table — the report that answers "what
    does moving the near-dup cut actually cost?": over the verified
    LSH candidate pairs, the count and candidate-share (exact bp)
    surviving each Jaccard threshold (per-mille, so 900 = the
    pipeline's production 0.9 cut and 1000 isolates the exact-dup
    mass). One pass over the pair table — every threshold is a
    conditional sum in the SAME aggregate, and the comparisons run on
    the 4-decimal-rounded jaccard both engines share bit-for-bit.

    Output: (threshold_pm, n_pairs_ge, share_bp), one row per
    threshold. Scale shape: the pair pipeline is the existing
    banded-LSH + verify path (never all-pairs); the sweep adds one
    map-side-combinable aggregate and a constant-width unpivot.
    """
    thresholds_pm = (500, 700, 800, 900, 950, 1000)
    pairs = ngram_jaccard(documents, minhash_lsh_candidates(documents))
    aggs = [F.count(F.lit(1)).cast("long").alias("total")]
    for pm in thresholds_pm:
        aggs.append(
            F.sum((F.col("jaccard") >= pm / 1000.0).cast("long"))
            .cast("long")
            .alias(f"t{pm}")
        )
    wide = pairs.agg(*aggs)
    stack = ", ".join(f"{pm}, t{pm}" for pm in thresholds_pm)
    return wide.select(
        F.expr(
            f"stack({len(thresholds_pm)}, {stack})"
        ).alias("threshold_pm", "n_pairs_ge"),
        "total",
    ).select(
        F.col("threshold_pm").cast("long").alias("threshold_pm"),
        "n_pairs_ge",
        F.expr("CAST((10000 * n_pairs_ge) div total AS BIGINT)").alias(
            "share_bp"
        ),
    )


def candidate_agreement(documents: DataFrame) -> DataFrame:
    """DEDUP-METHOD AGREEMENT census — classic minhash-LSH versus OPH
    (one-permutation-hashing) candidate generation over the SAME
    corpus: how many candidate pairs both surface, how many each finds
    alone, with exact bp shares of the union. The method-migration
    receipt: OPH is the ~5× cheaper signature path, and this table is
    the evidence of what its densified banding gives up (or gains)
    versus the per-hash classic family before a pipeline switches
    over.

    Output: (status ∈ {both, full_only, oph_only}, n_pairs, share_bp).

    Scale shape: both generators are the existing banded pipelines
    (never all-pairs); the agreement is one full outer equi-join on
    the pair key plus a 3-row aggregate.
    """
    full = minhash_lsh_candidates(documents).select("doc_a", "doc_b")
    oph = oph_lsh_candidates(documents).select("doc_a", "doc_b")
    m = full.withColumn("in_full", F.lit(1)).join(
        oph.withColumn("in_oph", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    cells = (
        m.select(
            F.when(
                F.col("in_full").isNotNull() & F.col("in_oph").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("in_full").isNotNull(), F.lit("full_only"))
            .otherwise(F.lit("oph_only"))
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return cells.select(
        "status",
        "n_pairs",
        F.expr(
            "CAST((10000 * n_pairs) div (sum(n_pairs) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def simhash_jaccard_agreement(documents: DataFrame) -> DataFrame:
    """SECOND method-agreement census — simhash near-dup pairs
    (banded 16-bit signature, hamming ≤ 3) versus the Jaccard ≥ 0.9
    verified LSH pairs: the two DIFFERENT similarity geometries
    (weighted-feature angle vs set overlap) compared on the same
    corpus, candidate_agreement's sibling (that compares two
    generators of the SAME geometry). ``both`` is the consensus core
    a conservative dedup keeps; each exclusive set names what one
    geometry sees that the other cannot.

    Output: (status ∈ {both, simhash_only, jaccard_only}, n_pairs,
    share_bp).

    Scale shape: both sides are the existing banded pipelines; one
    full outer equi-join on the pair key + a 3-row aggregate.
    """
    sh = simhash_near_dup_pairs(documents).select("doc_a", "doc_b")
    jc = (
        ngram_jaccard(documents, minhash_lsh_candidates(documents))
        .filter(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    m = sh.withColumn("in_sh", F.lit(1)).join(
        jc.withColumn("in_jc", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    cells = (
        m.select(
            F.when(
                F.col("in_sh").isNotNull() & F.col("in_jc").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("in_sh").isNotNull(), F.lit("simhash_only"))
            .otherwise(F.lit("jaccard_only"))
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return cells.select(
        "status",
        "n_pairs",
        F.expr(
            "CAST((10000 * n_pairs) div (sum(n_pairs) over ()) AS BIGINT)"
        ).alias("share_bp"),
    )


def rep_quality(documents: DataFrame) -> DataFrame:
    """CANONICAL-REPRESENTATIVE quality audit — when exact dedup keeps
    min-doc_id per fingerprint family, is the kept doc the best copy?
    Families share a whitespace/case-NORMALIZED fingerprint, so raw
    lengths inside a family can still differ (whitespace runs, case
    artifacts); over families of ≥ 2 this reports how many
    representatives carry the family's MAX raw length and the total
    raw characters the min-doc_id policy forfeits. A high
    rep_is_longest share says min-doc_id is safe; a low one argues
    for a pick-longest policy.

    Output: 1 row (n_families, n_rep_is_longest, rep_longest_bp,
    total_len_lost).

    Scale shape: the exact-dedup fingerprint groupBy (text reduces to
    digest + length in-stage), one equi-join back on the digest, one
    1-row aggregate.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    norm = F.regexp_replace(F.lower(txt), r"\s+", " ")
    docs = documents.select(
        "doc_id",
        F.sha2(norm, 256).alias("_fp"),
        F.length(txt).cast("long").alias("_len"),
    )
    fam = docs.groupBy("_fp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("doc_id").alias("_canon"),
        F.max("_len").cast("long").alias("max_len"),
    )
    rep = docs.join(
        fam.filter(F.col("n") >= 2).select("_fp", "_canon", "max_len"), "_fp"
    ).filter(F.col("doc_id") == F.col("_canon"))
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_families"),
        F.sum((F.col("_len") == F.col("max_len")).cast("long"))
        .cast("long")
        .alias("n_rep_is_longest"),
        F.sum(F.col("max_len") - F.col("_len")).cast("long").alias(
            "total_len_lost"
        ),
    ).select(
        "n_families",
        "n_rep_is_longest",
        F.expr(
            "CAST(CASE WHEN n_families > 0 THEN"
            " (10000 * n_rep_is_longest) div n_families END AS BIGINT)"
        ).alias("rep_longest_bp"),
        "total_len_lost",
    )

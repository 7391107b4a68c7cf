"""Gates for the deterministic sketch family (training/sketch.py):
KMV distinct-count, HyperLogLog registers, count-min heavy hitters.

Each sketch is checked three ways: cell-exact against an independent
pure-Python model (including the edge conventions — small-set KMV
fallback, HLL zero registers, CMS collision inflation), an accuracy
property proving the estimator actually estimates, and the structural
invariants a consumer relies on (cms_est >= exact_cnt, harmonic bounds).
The DuckDB value-hash oracles live in __spark_entry__ (text_kmv_distinct,
text_hll_registers, text_cms_heavy_hitters)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from dr_source_spark.training.sketch import cms_heavy_hitters, hll_registers, kmv_distinct


def _base(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_kmv_matches_python_model_including_small_groups(spark):
    """Cell-exact vs a brute-force model. Group 'aa' has thousands of
    distinct tokens (> k, exercises the two-stage prune and the integer
    division); group 'bb' has 3 (< k, exercises the exact-count
    fallback)."""
    k = 16
    big = [(i, " ".join(f"tok{i}_{j}" for j in range(40)), "aa") for i in range(50)]
    small = [(1000, "x y z", "bb")]
    got = {r.grp: r for r in kmv_distinct(_docs(spark, big + small), k=k).collect()}

    for grp, words in [
        ("aa", {f"tok{i}_{j}" for i in range(50) for j in range(40)}),
        ("bb", {"x", "y", "z"}),
    ]:
        hs = sorted({_base(w) for w in words})
        kept = hs[:k]
        r = got[grp]
        assert r.k == k and r.n_kept == len(kept) and r.kth_hash == kept[-1]
        exp = len(kept) if len(kept) < k else (k - 1) * (1 << 32) // kept[-1]
        assert r.est_distinct == exp


def test_kmv_estimates_cardinality(spark):
    """The estimator is an estimator: on ~6000 distinct uniform tokens
    with k=64 the relative error should be well inside 3/sqrt(k) ~ 37%
    (deterministic corpus, so this is a fixed number, not a flaky gate)."""
    rows = [(i, " ".join(f"w{i * 60 + j:05d}" for j in range(60)), "xx") for i in range(100)]
    row = kmv_distinct(_docs(spark, rows), k=64).collect()[0]
    n_true = 6000
    assert abs(row.est_distinct - n_true) / n_true < 0.37, row.est_distinct


def test_hll_registers_match_python_model(spark):
    """Cell-exact register summary vs an independent model, p=6. The
    model rebuilds buckets/rho from the same md5 base hash and checks
    every emitted integer, including the scaled harmonic sum with its
    zero-register contribution."""
    p, m, maxrho = 6, 64, 27
    words = {f"t{i}" for i in range(300)}
    rows = [(0, " ".join(sorted(words)), "aa")]
    got = hll_registers(_docs(spark, rows), p=p).collect()
    assert len(got) == 1
    r = got[0]

    regs = {}
    for w in words:
        h = _base(w)
        rem = h >> p
        rho = maxrho if rem == 0 else (32 - p) - rem.bit_length() + 1
        b = h % m
        regs[b] = max(regs.get(b, 0), rho)
    zero = m - len(regs)
    harm = sum(1 << (maxrho - v) for v in regs.values()) + zero * (1 << maxrho)
    assert (r.m, r.used_regs, r.zero_regs, r.sum_rho, r.harmonic_scaled) == (
        m, len(regs), zero, sum(regs.values()), harm,
    )


def test_hll_estimates_cardinality(spark):
    """Applying the read-time alpha correction to the exact integer
    summary estimates the true distinct count within the expected
    ~1.04/sqrt(64) = 13% band (deterministic corpus => fixed number)."""
    rows = [(i, " ".join(f"u{i * 50 + j:05d}" for j in range(50)), "xx") for i in range(80)]
    r = hll_registers(_docs(spark, rows), p=6).collect()[0]
    m, maxrho = 64, 27
    est = 0.709 * m * m * (1 << maxrho) / r.harmonic_scaled
    n_true = 4000
    assert abs(est - n_true) / n_true < 0.13, est


def test_cms_overestimates_only_and_exact_when_wide(spark):
    """CMS invariants: min-of-counters >= exact count always; with a
    width far above the distinct-token count there are no collisions and
    the sketch is exact. A narrow width (7 counters for 60 tokens) forces
    collisions and must still never under-count."""
    rows = [
        (i, " ".join(f"v{j:02d}" for j in range(60) for _ in range(j % 3 + 1)), "aa")
        for i in range(3)
    ]
    docs = _docs(spark, rows)
    wide = {r.word: (r.exact_cnt, r.cms_est) for r in
            cms_heavy_hitters(docs, depth=4, width=4096, top=10).collect()}
    assert len(wide) == 10
    assert all(est == exact for exact, est in wide.values())
    narrow = cms_heavy_hitters(docs, depth=4, width=7, top=10).collect()
    assert all(r.cms_est >= r.exact_cnt for r in narrow)
    assert {r.word: r.exact_cnt for r in narrow} == {w: e for w, (e, _) in wide.items()}


def test_cms_registers_match_python_model(spark):
    """The narrow-width estimates equal an independently built python
    count-min sketch cell-for-cell (same deterministic hash family)."""
    from dr_source_spark.training.dedup import _MINHASH_P, minhash_family

    depth, width = 4, 11
    corpus = [(0, "a b b c c c d d d d", "aa"), (1, "a a e f c", "bb")]
    got = {r.word: r.cms_est for r in
           cms_heavy_hitters(_docs(spark, corpus), depth=depth, width=width, top=6).collect()}

    counts = {}
    for _, text, _ in corpus:
        for w in text.split():
            counts[w] = counts.get(w, 0) + 1
    fam = minhash_family(depth)
    regs = {}
    for w, c in counts.items():
        h = _base(w)
        for d, (a, b) in enumerate(fam):
            key = (d, (a * h + b) % _MINHASH_P % width)
            regs[key] = regs.get(key, 0) + c
    for w in got:
        h = _base(w)
        exp = min(regs[(d, (a * h + b) % _MINHASH_P % width)] for d, (a, b) in enumerate(fam))
        assert got[w] == exp, w


def test_cms_plan_has_no_cartesian(spark):
    """The probe join back to the registers must be a broadcast equi-join
    on (row, pos) — never BNLJ/Cartesian."""
    rows = [(i, f"a b c w{i}", "aa") for i in range(20)]
    plan = cms_heavy_hitters(_docs(spark, rows))._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Merge laws — the property that makes a sketch a sketch: combining two
# corpora's summaries equals summarizing the combined corpus, exactly.


def _rows(prefix, n, lang="aa", start=0):
    return [(start + i, " ".join(f"{prefix}{i}_{j}" for j in range(20)) + " shared common", lang)
            for i in range(n)]


def test_kmv_merge_law(spark):
    """kmv_merge(sketch(A), sketch(B)) == sketch(A ∪ B) cell-for-cell,
    including overlapping tokens across the halves, and the merged
    estimate equals the combined-corpus estimate."""
    from dr_source_spark.training.sketch import kmv_estimate, kmv_merge, kmv_sketch

    k = 16
    a = _docs(spark, _rows("a", 10))
    b = _docs(spark, _rows("b", 10, start=100))
    both = a.unionByName(b)
    merged = kmv_merge(kmv_sketch(a, k), kmv_sketch(b, k), k)
    direct = kmv_sketch(both, k)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    assert (sorted(map(tuple, kmv_estimate(merged, k).collect()))
            == sorted(map(tuple, kmv_estimate(direct, k).collect())))


def test_hll_merge_law(spark):
    """The register table is the mergeable state: the per-(grp, bucket) max
    of regs(A) and regs(B) == regs(A ∪ B), and the summaries agree."""
    from dr_source_spark.training.sketch import hll_register_table, hll_summary

    a = _docs(spark, _rows("a", 8))
    b = _docs(spark, _rows("b", 8, start=100))
    both = a.unionByName(b)
    merged = (
        hll_register_table(a, p=5).unionByName(hll_register_table(b, p=5))
        .groupBy("grp", "bucket").agg(F.max("r").alias("r"))
    )
    direct = hll_register_table(both, p=5)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    assert (sorted(map(tuple, hll_summary(merged, 5).collect()))
            == sorted(map(tuple, hll_summary(direct, 5).collect())))


def test_cms_merge_law(spark):
    """The register table is the mergeable state: the per-(row, pos) sum
    of regs(A) and regs(B) == regs(A ++ B), and multiplicity across the
    halves is preserved (the shared tokens appear in both halves and must
    count twice)."""
    from dr_source_spark.training.sketch import cms_registers

    a = _docs(spark, _rows("a", 6))
    b = _docs(spark, _rows("b", 6, start=100))
    both = a.unionByName(b)
    merged = (
        cms_registers(a, 4, 64).unionByName(cms_registers(b, 4, 64))
        .groupBy("row", "pos").agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    direct = cms_registers(both, 4, 64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_sketches_on_empty_and_null_inputs(spark):
    """Empty corpora yield empty outputs in all three sketches; a NULL
    group key forms its own group (SQL GROUP BY semantics, identical in
    DuckDB) and NULL text contributes nothing."""
    from dr_source_spark.training.sketch import hll_registers

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert kmv_distinct(empty).count() == 0
    assert hll_registers(empty).count() == 0
    assert cms_heavy_hitters(empty).count() == 0
    nd = _docs(spark, [(1, "a b c", None), (2, None, "aa"), (3, "x y", "aa")])
    got = {(r.grp or "<null>"): r.n_kept for r in kmv_distinct(nd, k=4).collect()}
    assert got == {"<null>": 3, "aa": 2}


# ---------------------------------------------------------------------------
# KMV theta-style set-overlap estimate
# ---------------------------------------------------------------------------


def test_kmv_overlap_exact_when_sketches_not_full(spark):
    """When both sides have < k distinct tokens the sketches ARE the
    sets: theta = 2^32, the estimates must equal the exact overlap —
    the integer-arithmetic exactness falls out of the theta formula,
    not a special case."""
    from dr_source_spark.training.sketch import kmv_overlap

    a = _docs(spark, [(1, "w1 w2 w3 w4 shared1 shared2", "aa")])
    b = _docs(spark, [(2, "x1 x2 shared1 shared2", "aa")])
    r = kmv_overlap(a, b, k=64).collect()[0]
    assert r.theta == 1 << 32
    assert r.n_common == r.exact_common == 2
    assert r.est_intersect == 2
    assert r.est_union == r.exact_union == 8


def test_kmv_overlap_estimates_planted_overlap(spark):
    """Deterministic big-vocabulary corpora with a planted ~50% overlap:
    the theta estimate must land within the sketch's sampling error of
    the exact intersection (fixed corpus → fixed number, not a flaky
    bound), and n_common must be exactly the common-below-theta count
    both engines agree on."""
    from dr_source_spark.training.sketch import kmv_overlap

    shared = [" ".join(f"sh{i}_{j}" for j in range(40)) for i in range(25)]
    a = _docs(
        spark,
        [(i, f"{shared[i % 25]} " + " ".join(f"a{i}_{j}" for j in range(20)), "aa")
         for i in range(50)],
    )
    b = _docs(
        spark,
        [(100 + i, f"{shared[i % 25]} " + " ".join(f"b{i}_{j}" for j in range(20)), "aa")
         for i in range(50)],
    )
    r = kmv_overlap(a, b, k=64).collect()[0]
    assert r.exact_common == 1000  # the planted shared vocabulary
    assert r.n_common > 0
    # k=64 theta sampling: ~1/sqrt(n_common) relative error; assert a
    # generous 2x envelope that still catches a broken estimator
    assert r.exact_common / 2 <= r.est_intersect <= r.exact_common * 2, r
    assert r.exact_union / 2 <= r.est_union <= r.exact_union * 2, r


def test_kmv_overlap_no_common_and_empty_side(spark):
    """Disjoint vocabularies → n_common = est_intersect = exact_common
    = 0 (groups survive via the left joins); an empty side drops the
    group entirely (inner-join semantics, same as the oracle)."""
    from dr_source_spark.training.sketch import kmv_overlap

    a = _docs(spark, [(1, "only in a", "aa")])
    b = _docs(spark, [(2, "solely from b", "aa")])
    r = kmv_overlap(a, b, k=64).collect()[0]
    assert r.n_common == 0 and r.est_intersect == 0 and r.exact_common == 0
    assert r.exact_union == 6

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert kmv_overlap(a, empty, k=64).count() == 0


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch
# ---------------------------------------------------------------------------


def _hdr_bucket_py(v: int, K: int = 16) -> int:
    if v <= 0:
        return -1
    e = v.bit_length() - 1
    return e * K + (v - (1 << e)) * K // (1 << e)


def _hdr_bounds_py(b: int, K: int = 16):
    if b < 0:
        return (0, 0)

    def lo(bb):
        e, sub = divmod(bb, K)
        return (1 << e) + (sub * (1 << e) + K - 1) // K

    return lo(b), lo(b + 1) - 1


def test_hdr_bucket_matches_python_model_and_bounds_contain(spark):
    """Cell-exact bucket ids vs the pure-Python HdrHistogram model over
    a probe set covering every edge: 0 (the -1 bucket), 1..17 (octaves
    narrower than K, where ceil-division matters), exact powers of two,
    power-of-two ± 1, and large 40-bit values. Each value must land
    inside its own bucket's [lo, hi] with relative width ≤ 1/K."""
    from dr_source_spark.training.sketch import _hdr_bounds, _hdr_bucket

    probes = (
        list(range(0, 18))
        + [(1 << e) + d for e in (4, 5, 10, 20, 40) for d in (-1, 0, 1)]
        + [12345, 999_999_937, (1 << 41) + 12_345_678_901]
    )
    df = spark.createDataFrame([(v,) for v in probes], "v long").select(
        "v", _hdr_bucket("v").alias("bucket")
    )
    lo, hi = _hdr_bounds("bucket")
    rows = df.select("v", "bucket", lo.alias("lo"), hi.alias("hi")).collect()
    assert len(rows) == len(probes)
    for r in rows:
        assert r.bucket == _hdr_bucket_py(r.v), (r.v, r.bucket)
        assert (r.lo, r.hi) == _hdr_bounds_py(r.bucket), (r.v, r.bucket)
        assert r.lo <= r.v <= r.hi, (r.v, r.lo, r.hi)
        if r.lo >= 16:  # full-width octaves: the 1/K relative-error bound
            assert (r.hi - r.lo) <= r.lo / 16 + 1, (r.v, r.lo, r.hi)


def test_hdr_quantile_bounds_contain_exact_rank_statistic(spark):
    """On a deterministic skewed value set, every sketched [est_lo,
    est_hi] contains the true ceil-rank percentile — the structural
    (not statistical) guarantee — and the zero-heavy group pins the
    v=0 bucket path end to end."""
    from dr_source_spark.training.sketch import hdr_quantile_bounds, hdr_sketch

    vals = [("g1", (i * i * 7919) % 100_000 + 1) for i in range(500)]
    vals += [("g0", 0)] * 60 + [("g0", 5)] * 40
    df = spark.createDataFrame(vals, "grp string, v long")
    got = {
        (r.grp, r.q): r
        for r in hdr_quantile_bounds(hdr_sketch(df), qs=(50, 90, 99)).collect()
    }
    by_grp = {"g1": sorted(v for g, v in vals if g == "g1"),
              "g0": sorted(v for g, v in vals if g == "g0")}
    assert len(got) == 6
    for (grp, q), r in got.items():
        xs = by_grp[grp]
        exact = xs[(q * len(xs) + 99) // 100 - 1]
        assert r.n_values == len(xs)
        assert r.est_lo <= exact <= r.est_hi, (grp, q, exact, r)
    assert got[("g0", 50)].est_lo == 0 and got[("g0", 50)].est_hi == 0


def test_hdr_merge_law(spark):
    """The sketch is the mergeable state: the per-(grp, bucket) sum of
    sk(A) and sk(B) == sk(A ++ B) cell-for-cell — multiplicity across
    halves preserved — and quantile bounds off the merged sketch equal
    those off the direct sketch."""
    from dr_source_spark.training.sketch import hdr_quantile_bounds, hdr_sketch

    a = spark.createDataFrame(
        [("g", (i * 37) % 1000) for i in range(200)], "grp string, v long"
    )
    b = spark.createDataFrame(
        [("g", (i * 41) % 5000) for i in range(150)], "grp string, v long"
    )
    both = a.unionByName(b)
    merged = (
        hdr_sketch(a).unionByName(hdr_sketch(b))
        .groupBy("grp", "bucket").agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    direct = hdr_sketch(both)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    assert (sorted(map(tuple, hdr_quantile_bounds(merged).collect()))
            == sorted(map(tuple, hdr_quantile_bounds(direct).collect())))


def test_hdr_length_quantiles_on_documents_shape(spark):
    """End-to-end operator over a documents-shaped table: NULL text is a
    0-length document (audit invariant), every row carries the exact
    rank statistic inside the sketched bounds."""
    from dr_source_spark.training.sketch import hdr_length_quantiles

    docs = _docs(
        spark,
        [(i, "x" * (10 * i + 1), "aa") for i in range(30)] + [(99, None, "nn")],
    )
    rows = hdr_length_quantiles(docs).collect()
    assert len(rows) == 6  # 2 langs x 3 percentiles
    for r in rows:
        assert r.est_lo <= r.exact_len <= r.est_hi, r
    nn = {r.q: r for r in rows if r.grp == "nn"}
    assert nn[50].exact_len == 0 and nn[50].n_docs == 1


# ---------------------------------------------------------------------------
# Bloom filter membership sketch
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_stats(spark):
    """The Bloom law: every true member passes (n_member ≤ n_bloom_pass
    with equality on the member subset), checked per-gram — a member
    gram whose probe fails would be a correctness bug, not noise."""
    from dr_source_spark.training.sketch import bloom_decontam_stats

    corpus = _docs(spark, _rows("c", 20) + _rows("d", 10, lang="bb"))
    bench = _docs(spark, _rows("c", 5))  # subset → true members exist
    rows = {r.grp: r for r in bloom_decontam_stats(corpus, bench).collect()}
    assert set(rows) == {"aa", "bb"}
    for r in rows.values():
        assert r.n_member <= r.n_bloom_pass <= r.n_grams
        assert r.n_false_pos == r.n_bloom_pass - r.n_member
    assert rows["aa"].n_member > 0  # the planted overlap is seen


def test_bloom_merge_law(spark):
    """The bit set is the mergeable state: union-distinct of bits(A) and
    bits(B) == bits(A ∪ B) exactly (the OR of two filters)."""
    from dr_source_spark.training.sketch import _minhash_base, bloom_bits

    def keys(prefix, n):
        df = spark.createDataFrame([(f"{prefix}{i}",) for i in range(n)], "gram string")
        return df.select("gram", _minhash_base(F.col("gram")).alias("h"))

    a, b = keys("a", 300), keys("b", 300)
    both = a.unionByName(b)
    merged = bloom_bits(a).unionByName(bloom_bits(b)).distinct()
    direct = bloom_bits(both)
    assert sorted(r.pos for r in merged.collect()) == sorted(
        r.pos for r in direct.collect()
    )


def test_hdr_bloom_on_empty_inputs(spark):
    """Empty corpora yield empty sketches and empty stats — same gate
    the KMV/HLL/CMS family has."""
    from dr_source_spark.training.sketch import (
        bloom_decontam_stats,
        hdr_length_quantiles,
        hdr_sketch,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    empty_vals = spark.createDataFrame([], "grp string, v long")
    assert hdr_sketch(empty_vals).count() == 0
    assert hdr_length_quantiles(empty_docs).count() == 0
    assert bloom_decontam_stats(empty_docs, empty_docs).count() == 0


def test_hdr_extreme_int64_values_match_model_and_duckdb(spark):
    """The FULL non-negative int64 domain is exact: near 2^63 - 1 the
    naive (v - 2^e) * K product and the hi-bound's 2^(e+1) intermediate
    overflow int64 — the divide-first scheme (K | 2^e for e >= 4) and
    the folded -1 in hi must agree with the arbitrary-precision Python
    model AND with the DuckDB oracle fragments cell-for-cell at the
    extremes."""
    import duckdb

    from dr_source_spark.queries._common import _duck_hdr_bounds, _duck_hdr_bucket
    from dr_source_spark.training.sketch import _hdr_bounds, _hdr_bucket

    probes = [
        (1 << 59) - 1,
        1 << 59,
        (1 << 62) - 1,
        1 << 62,
        (1 << 62) + (1 << 61),
        (1 << 63) - 2,
        (1 << 63) - 1,
    ]
    df = spark.createDataFrame([(v,) for v in probes], "v long").select(
        "v", _hdr_bucket("v").alias("bucket")
    )
    lo, hi = _hdr_bounds("bucket")
    rows = df.select("v", "bucket", lo.alias("lo"), hi.alias("hi")).collect()
    assert len(rows) == len(probes)

    dlo, dhi = _duck_hdr_bounds("b")
    con = duckdb.connect()
    for r in rows:
        b = _hdr_bucket_py(r.v)
        assert r.bucket == b, (r.v, r.bucket, b)
        assert (r.lo, r.hi) == _hdr_bounds_py(b), (r.v, r.lo, r.hi)
        assert r.lo <= r.v <= r.hi, (r.v, r.lo, r.hi)
        got = con.execute(
            f"SELECT {_duck_hdr_bucket('v')}, {dlo}, {dhi} FROM "
            f"(SELECT CAST({r.v} AS BIGINT) AS v, CAST({b} AS BIGINT) AS b)"
        ).fetchone()
        assert got == (r.bucket, r.lo, r.hi), (r.v, got)

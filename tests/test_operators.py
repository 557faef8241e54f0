"""Behavioral tests for the dedup/similarity operators on crafted
fixtures with known ground truth (the testdata corpus has no exact
duplicates at small SF), plus equivalence checks between alternative
formulations (SURVEY J4: self-join vs pivot)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from picoprobedataflow_spark.plans import pipeline as PL

from picoprobedataflow_spark.operators import dedup as DD
from picoprobedataflow_spark.operators import similarity as SIM

from .assign_reference import cell_pairs, nearest_cell_reference
from .conftest import job_group

#: Spark jobs per call of the iterative operators on their pinned test
#: graphs (local[4]): each round's fixpoint sum or row count rides on
#: its checkpoint job. With a count or aggregate job after each
#: checkpoint they took 24, 109, 56 and 70.
CC_JOBS, STAR_JOBS, PAGERANK_JOBS, PAGERANK_SEEDED_JOBS = 18, 73, 54, 66


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_exact_dup_mapping(spark):
    docs = _docs(spark, ["a b c", "d e f", "a b c", "a b c", "g h"])
    mapping = {r.doc_id: r.canonical_id
               for r in DD.exact_dup_mapping(docs).collect()}
    assert mapping == {2: 0, 3: 0}


def test_contamination_overlap_known_fractions(spark):
    """Decontamination on a crafted corpus: a doc equal to a benchmark
    doc scores 1.0, a half-overlapping doc scores its exact shingle
    fraction, a disjoint doc scores 0 and is dropped by a positive
    threshold; the benchmark docs themselves are not scored."""
    bench = _docs(spark, ["alpha beta gamma delta epsilon zeta"])
    train = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # full copy
         (11, "alpha beta gamma delta nine ten eleven"),  # partial
         (12, "one two three four five six")],            # clean
        "doc_id long, text string")
    rows = {r.doc_id: r for r in DD.contamination_overlap(
        train, bench, k=3).collect()}
    assert set(rows) == {10, 11, 12}
    assert rows[10].overlap_frac == 1.0
    # doc 11: shingles = 5 total, 2 of them (alpha beta gamma /
    # beta gamma delta) occur in the benchmark
    assert rows[11].n_shingles == 5 and rows[11].n_overlap == 2
    assert rows[11].overlap_frac == 0.4
    assert rows[12].n_overlap == 0 and rows[12].overlap_frac == 0.0
    kept = {r.doc_id for r in DD.contamination_overlap(
        train, bench, k=3, threshold=0.05).collect()}
    assert kept == {10, 11}


def test_contamination_bloom_gate_exact(spark):
    """The Bloom-prefiltered gate is EXACT: row-identical to the
    plain semi-join gate at a sane filter size AND at a deliberately
    tiny (32-bit) filter where nearly every probe collides — false
    positives only add verify work, the exact join removes them, and
    Bloom filters have no false negatives. Also pins the primitives:
    every member tests positive, and a sane-sized filter rejects
    most non-members."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter((F.col("doc_id") % 13) == 0)
    train = docs.filter((F.col("doc_id") % 13) != 0)
    exact = DD.contamination_overlap(train, bench, k=3).collect()
    want = sorted((r.doc_id, r.n_shingles, r.n_overlap, r.overlap_frac)
                  for r in exact)
    for nb in (1 << 16, 32):
        got = DD.contamination_overlap_bloom(
            train, bench, k=3, num_bits=nb).collect()
        assert sorted((r.doc_id, r.n_shingles, r.n_overlap,
                       r.overlap_frac) for r in got) == want, nb
    uni = DD.shingle_table(bench, 3).select("shingle").distinct()
    bits = DD.bloom_bits(uni, num_bits=1 << 16)
    assert uni.filter(~DD.bloom_contains(bits, "shingle",
                                         1 << 16)).count() == 0
    outside = spark.range(500).select(
        F.concat(F.lit("no such shingle "), F.col("id")).alias("shingle"))
    fp = outside.filter(DD.bloom_contains(bits, "shingle",
                                          1 << 16)).count()
    assert fp < 50


def test_bloom_broadcast_transport_matches_literal(spark):
    """Round-9 production transport: the filter words ride a 1-row
    BroadcastExchange (bloom_filter_df + bloom_prefilter), never the
    expression tree. Pins (a) word-for-word equality of the
    distributed build vs the driver-collected bloom_bits, (b)
    survivor-set equality of the two probe transports at a
    collision-heavy 256-bit filter (false positives exercised on both
    sides), (c) final-gate equality across transport={literal,
    broadcast} vs the exact gate, and (d) the plan shape: a
    BroadcastExchange feeding a BroadcastNestedLoopJoin, with the
    probe pushed into the join condition."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter((F.col("doc_id") % 13) == 0)
    train = docs.filter((F.col("doc_id") % 13) != 0)
    uni = DD.shingle_table(bench, 3).select("shingle").distinct()
    tr = DD.shingle_table(train, 3)

    for nb in (1 << 14, 256):
        bits = DD.bloom_bits(uni, num_bits=nb)
        bf = DD.bloom_filter_df(uni, num_bits=nb)
        assert bf.collect()[0].bf == bits, nb
        lit_ids = sorted(r.shingle for r in tr.filter(
            DD.bloom_contains(bits, "shingle", nb)).collect())
        bc = DD.bloom_prefilter(tr, "shingle", bf, nb)
        assert sorted(r.shingle for r in bc.collect()) == lit_ids, nb

    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastExchange" in plan

    exact = sorted((r.doc_id, r.n_shingles, r.n_overlap, r.overlap_frac)
                   for r in DD.contamination_overlap(
                       train, bench, k=3).collect())
    for transport in ("literal", "broadcast"):
        got = DD.contamination_overlap_bloom(
            train, bench, k=3, num_bits=256, transport=transport)
        assert sorted((r.doc_id, r.n_shingles, r.n_overlap,
                       r.overlap_frac)
                      for r in got.collect()) == exact, transport
    # auto cutover: at/under the literal ceiling stays literal, above
    # it goes broadcast — both still exact.
    got = DD.contamination_overlap_bloom(
        train, bench, k=3, num_bits=DD.BLOOM_LITERAL_MAX_BITS * 2,
        transport="auto")
    assert sorted((r.doc_id, r.n_shingles, r.n_overlap, r.overlap_frac)
                  for r in got.collect()) == exact


def test_bloom_num_bits_auto_sizing(spark, tmp_path):
    """Round-12 num_bits='auto': width derives from the universe's
    Catalyst estimate at ~10 bits/key (power of two, clamped); a
    stat-less universe falls back to the old 2^20 default rather
    than conjuring the ceiling; prebuilt hooks REQUIRE the explicit
    width they were built with."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter((F.col("doc_id") % 13) == 0)
    train = docs.filter((F.col("doc_id") % 13) != 0)
    uni_pq_src = DD.shingle_table(bench, 3).select("shingle").distinct()
    p = str(tmp_path / "uni.parquet")
    uni_pq_src.write.parquet(p)
    uni = spark.read.parquet(p)
    n = DD._auto_num_bits(uni)
    est = DD._plan_size_bytes(uni)
    assert n & (n - 1) == 0 and n >= DD.BLOOM_MIN_BITS
    assert n >= (est // DD.BLOOM_ROW_BYTES_EST) * DD.BLOOM_BITS_PER_KEY \
        or n == DD.BLOOM_MAX_BITS
    # stat-less (in-memory) -> the conservative legacy default
    mem = spark.createDataFrame([("a b c",)], "shingle string")
    assert DD._auto_num_bits(mem) == 1 << 20
    # auto gate output == exact gate output (fp only costs verify work)
    exact = sorted((r.doc_id, r.n_overlap) for r in
                   DD.contamination_overlap(train, bench, k=3)
                   .collect())
    got = sorted((r.doc_id, r.n_overlap) for r in
                 DD.contamination_overlap_bloom(train, bench, k=3)
                 .collect())
    assert got == exact
    # prebuilt hooks without an explicit width are refused loudly
    bits = DD.bloom_bits(uni, num_bits=1 << 12)
    with pytest.raises(ValueError, match="explicit num_bits"):
        DD.contamination_overlap_bloom(train, bench, k=3, bits=bits)
    with pytest.raises(ValueError, match="explicit num_bits"):
        DD.decontaminate_spans(train, bench, k=3, bits=bits)


def test_contam_bloom_owns_no_cache(spark):
    """Round-9 fix for the round-8 leak: contamination_overlap_bloom
    persisted its bench universe MEMORY_ONLY on every call and never
    unpersisted — one cache-manager entry per call (per micro-batch in
    the streaming gate). The op now owns no cache at all; amortization
    is the caller-supplied bits/bloom_df/bench_universe hooks."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter((F.col("doc_id") % 13) == 0)
    train = docs.filter((F.col("doc_id") % 13) != 0)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    for transport in ("literal", "broadcast"):
        DD.contamination_overlap_bloom(
            train, bench, k=3, num_bits=1 << 12,
            transport=transport).collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    assert after - before == set()


def test_incremental_minhash_owns_no_cache(spark):
    """Round-12 review find, same leak class as the round-8 contam
    one: incremental_minhash_dedup persisted its vector and band
    frames internally, so the streaming loop's unpersist (on the
    DERIVED returned frames) matched nothing — one cache entry per
    micro-batch. The op now owns no cache; the loop persists and
    unpersists the same references it writes."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).limit(40)
    batch = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
    sigs = DD.minhash_signatures(corpus, num_hashes=8)
    bands = DD.band_signatures(sigs, band_size=4)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    new_sigs, new_bands, pairs = DD.incremental_minhash_dedup(
        batch, sigs, bands, num_hashes=8, band_size=4)
    for df in (new_sigs, new_bands, pairs):
        df.collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    assert after - before == set()


def test_bloom_literal_probe_is_64bit(spark):
    """ADVICE regression: when every filter word fits int32, F.lit
    infers array<int> and shiftright masks the shift amount mod 32 —
    a probe of bit position p >= 32 then reads bit p % 32 instead of
    (correctly) zero, deviating from the design false-positive rate.
    bloom_contains now pins array<bigint>. Construct the deviation:
    a filter whose only set bit is 5 (int32-able word), probed by
    values whose single hash position lands >= 32 with (p % 32) == 5
    — the masked-shift bug answers True, correct 64-bit shift answers
    False."""
    cand = spark.range(4000).select(
        F.concat(F.lit("probe-"), F.col("id")).alias("v"),
        F.pmod(F.xxhash64(F.lit(0), F.concat(F.lit("probe-"),
                                             F.col("id"))),
               F.lit(64)).alias("p"))
    tricky = cand.filter((F.col("p") >= 32) & (F.col("p") % 32 == 5))
    n = tricky.count()
    assert n > 0  # the construction found adversarial probes
    hits = tricky.filter(DD.bloom_contains([1 << 5], "v", 64,
                                           num_hashes=1)).count()
    assert hits == 0


def test_decontaminate_spans_known_intervals(spark):
    """Span-level decontamination on hand-worked docs: a single hit
    window excises exactly its k tokens; overlapping hit windows
    merge into one interval (no double counting); separated hits
    excise two intervals; a full benchmark copy cleans to empty; a
    clean doc passes through byte-identical (modulo whitespace
    normalization)."""
    bench = _docs(spark, ["alpha beta gamma delta"])
    train = spark.createDataFrame(
        [(10, "one two alpha beta gamma three four"),
         (11, "alpha beta gamma delta zzz"),
         (12, "clean text with nothing shared"),
         (13, "alpha beta gamma delta"),
         (14, "alpha beta gamma x y z beta gamma delta")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in DD.decontaminate_spans(
        train, bench, k=3).collect()}
    assert got[10].cleaned == "one two three four"
    assert (got[10].n_removed, got[10].n_kept) == (3, 4)
    # hits at starts 1 and 2 merge into tokens 1-4 — NOT 3 + 3 = 6
    assert got[11].cleaned == "zzz"
    assert (got[11].n_removed, got[11].n_kept) == (4, 1)
    assert got[12].cleaned == "clean text with nothing shared"
    assert (got[12].n_removed, got[12].n_kept) == (0, 5)
    assert got[13].cleaned == "" and got[13].n_removed == 4
    # two separated intervals: tokens 1-3 and 7-9
    assert got[14].cleaned == "x y z"
    assert (got[14].n_removed, got[14].n_kept) == (6, 3)


def test_decontaminate_spans_total_on_degenerate_docs(spark):
    """Empty, null, whitespace-only and sub-k docs all pass through
    (cleaned = normalized tokens, nothing removed) — the op is total
    on the round-8/9 degenerate classes."""
    bench = _docs(spark, ["alpha beta gamma delta"])
    train = spark.createDataFrame(
        [(20, ""), (21, None), (22, "   "), (23, "ab"),
         (24, "ab cd")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in DD.decontaminate_spans(
        train, bench, k=3).collect()}
    assert set(got) == {20, 21, 22, 23, 24}
    assert all(r.n_removed == 0 for r in got.values())
    assert got[20].cleaned == "" and got[21].cleaned == ""
    assert got[22].cleaned == ""
    assert got[23].cleaned == "ab" and got[23].n_kept == 1
    assert got[24].cleaned == "ab cd" and got[24].n_kept == 2


def test_decontaminate_spans_bloom_routes_equal_direct(spark):
    """Round-10 transport pin: the Bloom-prefiltered routes (literal
    AND broadcast) are row-identical to the direct semi join at a
    deliberately collision-heavy filter size (64 bits for a
    multi-shingle universe → false positives guaranteed on the
    probe side; the exact verify join must remove every one)."""
    bench = _docs(spark, ["alpha beta gamma delta",
                          "red green blue cyan magenta"])
    train = spark.createDataFrame(
        [(10, "one two alpha beta gamma three four"),
         (11, "red green blue x y z"),
         (12, "clean text with nothing shared at all"),
         (13, ""), (14, None), (15, "ab")],
        "doc_id long, text string")

    def rows(**kw):
        return sorted(map(tuple, DD.decontaminate_spans(
            train, bench, k=3, **kw).collect()))

    direct = rows(transport="direct")
    assert rows(transport="literal", num_bits=64) == direct
    assert rows(transport="broadcast", num_bits=64) == direct
    # auto (round-12 default): in-memory fixtures have no real stats
    # (huge sentinel estimate) so auto lands on the scale-safe Bloom
    # side — literal under BLOOM_LITERAL_MAX_BITS, broadcast above.
    # Either way the output equals direct by construction.
    assert rows(transport="auto", num_bits=64) == direct
    assert rows(transport="auto",
                num_bits=DD.BLOOM_LITERAL_MAX_BITS * 2) == direct
    assert rows() == direct  # default IS auto


def test_decontaminate_spans_auto_selector(spark, tmp_path):
    """Round-12 transport="auto" selector, pinned via PLAN SHAPE on
    both sides of the DECONTAM_DIRECT_MAX_BYTES cutover: a
    parquet-backed universe (real, tiny sizeInBytes estimate) takes
    the direct semi join — NO Bloom probe in the plan; a stat-less
    in-memory universe (huge sentinel estimate) inserts the Bloom
    prefilter before the semi join."""
    bench = _docs(spark, ["alpha beta gamma delta"])
    train = spark.createDataFrame(
        [(10, "one two alpha beta gamma three four")],
        "doc_id long, text string")
    uni_mem = DD.shingle_table(bench, 3).select("shingle").distinct()
    pq = str(tmp_path / "universe.parquet")
    uni_mem.write.parquet(pq)
    uni_pq = spark.read.parquet(pq)
    assert DD._plan_size_bytes(uni_pq) <= DD.DECONTAM_DIRECT_MAX_BYTES
    assert DD._plan_size_bytes(uni_mem) > DD.DECONTAM_DIRECT_MAX_BYTES

    def plan(universe):
        return (DD.decontaminate_spans(
                    train, k=3, bench_universe=universe)
                ._jdf.queryExecution().executedPlan().toString())

    # xxhash64(...) % num_bits is the Bloom probe's signature
    # expression; the direct route never builds it.
    below = plan(uni_pq)
    above = plan(uni_mem)
    assert "xxhash64" not in below
    assert "xxhash64" in above
    # Same rows either way.
    assert (sorted(map(tuple, DD.decontaminate_spans(
                train, k=3, bench_universe=uni_pq).collect()))
            == sorted(map(tuple, DD.decontaminate_spans(
                train, k=3, bench_universe=uni_mem).collect())))


def test_decontaminate_spans_broadcast_plan_shape(spark):
    """The broadcast route's prefilter is a real BroadcastExchange
    probing BEFORE the exact semi join — the windows never reshuffle
    on the shingle key unprobed."""
    bench = _docs(spark, ["alpha beta gamma delta"])
    train = spark.createDataFrame(
        [(10, "one two alpha beta gamma three four")],
        "doc_id long, text string")
    plan = (DD.decontaminate_spans(
                train, bench, k=3, transport="broadcast",
                num_bits=1 << 14)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan


def test_jaccard_identical_and_disjoint(spark):
    docs = _docs(spark, [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",   # identical
        "completely different words here entirely now",  # disjoint
    ])
    rows = DD.jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.jaccard) == (0, 1, 1.0)


def test_short_docs_drop_out_without_error(spark):
    """Docs with fewer than k tokens must be DROPPED, not crash: the
    explode downstream makes InferFiltersFromGenerate push a
    size(..)>0 predicate below the shingle projection, and codegen CSE
    then evaluates the transform on pre-filter rows — sequence(1, <=0)
    descends through 0 and slice(_, 0, k) throws unless the bound is
    clamped. Regression for the DSIR/shingle family; consume through
    an aggregate so the inferred-filter rewrite actually fires."""
    docs = _docs(spark, [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",
        "tiny",            # 1 token < k=3
        "two words",       # 2 tokens < k=3
    ])
    sh = DD.shingle_table(docs, 3)
    per_doc = {r.doc_id: r.n for r in
               sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_doc) == {0, 1}
    pairs = DD.jaccard_pairs(docs, k=3, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(0, 1)]
    vec = DD.minhash_vector(docs, num_hashes=8, k=3)
    assert {r.doc_id for r in vec.collect()} == {0, 1}
    from picoprobedataflow_spark.functions.text import (
        dsir_importance_weights)
    w = dsir_importance_weights(
        docs.withColumn("lang", F.lit("en"))).collect()
    assert {r.doc_id for r in w} == {0, 1, 3}
    # stride=1 is the only stride whose pre-filter slice start can
    # land exactly on 0 (i*st+1 == 0 needs st == 1).
    spans = DD.cross_doc_span_dedup(docs, span_w=4, stride=1)
    per = {r.doc_id: r.n for r in
           spans.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(per) == {0, 1} and per[0] == per[1] == 6


def test_jaccard_partial_overlap_value(spark):
    # doc0: tokens a b c d -> shingles {abc, bcd}; doc1: a b c e -> {abc, bce}
    docs = _docs(spark, ["a b c d", "a b c e"])
    r = DD.jaccard_pairs(docs, k=3, threshold=0.1).collect()[0]
    assert r.n_common == 1 and r.n_a == 2 and r.n_b == 2
    assert abs(r.jaccard - 1 / 3) < 1e-12


def test_minhash_estimates_track_jaccard(spark):
    t0 = " ".join(f"w{i}" for i in range(60))
    t1 = " ".join(f"w{i}" for i in range(55)) + " x1 x2 x3 x4 x5"
    t2 = " ".join(f"z{i}" for i in range(60))
    docs = _docs(spark, [t0, t1, t2])
    sigs = DD.minhash_signatures(docs, num_hashes=16, k=3)
    assert sigs.count() == 3 * 16
    pairs = spark.createDataFrame([(0, 1), (0, 2)], "doc_a long, doc_b long")
    est = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in DD.minhash_jaccard_estimate(sigs, pairs).collect()}
    assert est[(0, 1)] > 0.5          # heavy overlap
    assert est[(0, 2)] <= 0.2         # disjoint shingle sets


def test_jaccard_hashed_shingle_path_matches_string_path(spark):
    """The production hashed-shingle path (row-local 64-bit shingle
    ids, strings never shuffled) must produce the same pairs and the
    same jaccard values as the exact string path on a collision-free
    corpus — both from docs and through the injected-shingles route."""
    from picoprobedataflow_spark.functions.scalar import fast_hash64

    t0 = " ".join(f"w{i}" for i in range(40))
    t1 = " ".join(f"w{i}" for i in range(35)) + " x1 x2 x3 x4 x5"
    docs = _docs(spark, [t0, t1, " ".join(f"z{i}" for i in range(40)),
                         "too short"])
    base = DD.jaccard_pairs(docs, k=3, threshold=0.1)
    hashed = DD.jaccard_pairs(docs, k=3, threshold=0.1,
                              shingle_hash=fast_hash64)
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    b = {key(r): r.jaccard for r in base.collect()}
    h = {key(r): r.jaccard for r in hashed.collect()}
    assert b == h and b

    sh = DD.shingle_table(docs, 3)
    inj = DD.jaccard_pairs(None, k=3, threshold=0.1, shingles=sh,
                           shingle_hash=fast_hash64)
    assert {key(r): r.jaccard for r in inj.collect()} == b

    # max_df interacts with hashed ids the same way it does with
    # strings (df counted over ids).
    bm = DD.jaccard_pairs(docs, k=3, threshold=0.1, max_df=1)
    hm = DD.jaccard_pairs(docs, k=3, threshold=0.1, max_df=1,
                          shingle_hash=fast_hash64)
    assert {key(r): r.jaccard for r in bm.collect()} == \
        {key(r): r.jaccard for r in hm.collect()}


def test_minhash_vector_path_equals_groupby_path(spark):
    """The row-local vector formulation (signatures, bands, estimates
    — zero shuffle) must be BIT-identical to the shingle-table groupBy
    formulation it replaced, including the short-doc drop (< k tokens
    ⇒ absent) and a trailing short band (num_hashes not divisible by
    band_size)."""
    t0 = " ".join(f"w{i}" for i in range(40))
    t1 = " ".join(f"w{i}" for i in range(35)) + " x1 x2 x3 x4 x5"
    docs = _docs(spark, [t0, t1, " ".join(f"z{i}" for i in range(40)),
                         "too short", ""])

    sh = DD.shingle_table(docs, 3)
    old = DD.minhash_signatures(docs, num_hashes=16, k=3, shingles=sh)
    new = DD.minhash_signatures(docs, num_hashes=16, k=3)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.filter(F.col("doc_id").isin(3, 4)).count() == 0

    vec = DD.minhash_vector(docs, num_hashes=16, k=3)
    for bs in (4, 6):  # 6 exercises the trailing short band (16 % 6 != 0)
        b_old = DD.band_signatures(old, band_size=bs)
        b_new = DD.band_vector_signatures(vec, band_size=bs,
                                          num_hashes=16)
        assert b_old.exceptAll(b_new).count() == 0
        assert b_new.exceptAll(b_old).count() == 0

    pairs = spark.createDataFrame([(0, 1), (0, 2)],
                                  "doc_a long, doc_b long")
    e_old = DD.minhash_jaccard_estimate(old, pairs, num_hashes=16)
    e_new = DD.minhash_vector_estimate(vec, pairs, num_hashes=16)
    assert sorted(map(tuple, e_old.collect())) == \
        sorted(map(tuple, e_new.collect()))


def test_simhash_identical_zero_hamming(spark):
    docs = _docs(spark, ["alpha beta gamma delta epsilon zeta",
                         "alpha beta gamma delta epsilon zeta",
                         "one two three four five six seven eight"])
    sigs = DD.simhash_signatures(docs, bits=32)
    vals = {r.doc_id: r.simhash for r in sigs.collect()}
    assert vals[0] == vals[1]
    pairs = DD.simhash_near_pairs(sigs, max_hamming=0).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(0, 1, 0)]


def test_simhash_formulations_bit_identical(spark):
    """Round-9 local cutover: the grouped (explode + hash-aggregate)
    and row-local (higher-order fold) signature formulations must be
    bit-identical — including degenerate rows (null text, empty text,
    single token), where explode_outer keeps the null-text doc at
    signature 0 exactly as the row-local null vote counters do. The
    "auto" rule picks grouped for small Catalyst-estimated scans
    (shuffles are nearly free there; interpreted lambdas are not) and
    row-local above SIG_GROUPED_MAX_BYTES — the shuffle-free shape
    that survives 100 TB."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven eight"),
         (3, None), (4, ""), (5, "solo")],
        "doc_id long, text string")
    from picoprobedataflow_spark.functions.scalar import fast_hash64
    for hf in (None, fast_hash64):
        kw = {} if hf is None else {"hash_fn": hf}
        grp = sorted(map(tuple, DD.simhash_signatures(
            docs, formulation="grouped", **kw).collect()))
        row = sorted(map(tuple, DD.simhash_signatures(
            docs, formulation="rowlocal", **kw).collect()))
        assert grp == row and len(grp) == 6
    # auto on a small PARQUET scan (real size stats) resolves to
    # grouped: the plan carries the explode (Generate) the row-local
    # shape never has. In-memory LogicalRDD relations have no real
    # stats (huge default sizeInBytes) and correctly fall back to the
    # scale-safe row-local shape.
    pq = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    auto_plan = (DD.simhash_signatures(pq, formulation="auto")
                 ._jdf.queryExecution().optimizedPlan().toString())
    row_plan = (DD.simhash_signatures(pq, formulation="rowlocal")
                ._jdf.queryExecution().optimizedPlan().toString())
    assert "Generate" in auto_plan and "Generate" not in row_plan
    assert DD._plan_size_bytes(pq) <= DD.SIG_GROUPED_MAX_BYTES
    assert DD._plan_size_bytes(docs) > DD.SIG_GROUPED_MAX_BYTES
    import pytest as _pt
    with _pt.raises(ValueError):
        DD.simhash_signatures(docs, formulation="nope")


def test_fast_hash_scale_path_same_semantics(spark):
    """The xxhash64 scale path must change only signature VALUES, not
    dedup semantics: identical docs still collide, minhash estimates
    still track overlap, and the LSH flow still surfaces the dup."""
    from picoprobedataflow_spark.functions.scalar import fast_hash64

    t0 = " ".join(f"w{i}" for i in range(60))
    docs = _docs(spark, [t0, t0, " ".join(f"z{i}" for i in range(60))])

    sigs = DD.simhash_signatures(docs, bits=32, hash_fn=fast_hash64)
    vals = {r.doc_id: r.simhash for r in sigs.collect()}
    assert vals[0] == vals[1] != vals[2]
    assert all(0 <= v < 2 ** 32 for v in vals.values())

    mh = DD.minhash_signatures(docs, num_hashes=16, k=3,
                               hash_fn=fast_hash64)
    assert mh.filter(
        (F.col("minhash") < 0)
        | (F.col("minhash") >= DD.MINHASH_PRIME)).count() == 0

    est = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in DD.minhash_lsh_dedup(
               docs, num_hashes=16, k=3, band_size=4,
               hash_fn=fast_hash64).collect()}
    assert est[(0, 1)] == 1.0
    assert (0, 2) not in est and (1, 2) not in est


def test_topk_cosine_hand_vectors(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    top = SIM.topk_cosine(emb, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
    assert top[0].cosine == 1.0
    expected = 0.9 / math.hypot(0.9, 0.1)
    assert abs(top[1].cosine - expected) < 1e-6


def test_blocked_near_pairs_respects_blocks(spark):
    emb = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]),
         (3, 1, [1.0, 0.0])],  # same direction but different block
        "vec_id long, label int, embedding array<float>")
    pairs = SIM.blocked_near_pairs(emb, threshold=0.99).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_srp_ann_search_finds_neighbor(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(1, 40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    rows.append((99, [1.0] * 64))  # near-duplicate of the query below
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = SIM.srp_ann_search(emb, [0.99] * 64, k=3, n_planes=4, dim=64)
    got = res.collect()
    assert got, "query bucket unexpectedly empty"
    assert got[0].vec_id == 99 and got[0].cosine > 0.999


def test_srp_bucket_matrix_matches_fold(spark):
    """The pandas-UDF plane-matrix path (1024-dim scale variant) must
    assign the same buckets as the literal-array fold on the real
    embeddings table — same planes, same >0 contract; only the dot
    summation order differs, which real-valued data never notices."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fold = emb.withColumn("bucket", SIM.srp_bucket(F.col("embedding"),
                                                   n_planes=8, dim=64))
    mat = SIM.srp_bucket_matrix(emb, n_planes=8, dim=64)
    joined = (fold.select("vec_id", F.col("bucket").alias("b_fold"))
                  .join(mat.select("vec_id", F.col("bucket").alias("b_mat")),
                        "vec_id"))
    n_total = joined.count()
    n_agree = joined.filter(F.col("b_fold") == F.col("b_mat")).count()
    assert n_total > 0
    assert n_agree == n_total


def test_ivf_ann_finds_in_cluster_neighbor(spark):
    """IVF with 2 cells: the query sits in cell 0; n_probe=1 must find
    the in-cell neighbor and never scan cell 1."""
    emb = spark.createDataFrame(
        [(1, 0, [1.0, 0.1]), (2, 0, [0.9, 0.0]),
         (3, 1, [-1.0, 0.0]), (4, 1, [-0.9, -0.1])],
        "vec_id long, label int, embedding array<float>")
    res = SIM.ivf_ann_search(emb, [1.0, 0.0], k=2, n_probe=1).collect()
    assert [r.vec_id for r in res] == [2, 1]
    assert all(r.cell == 0 for r in res)
    # centroids themselves: elementwise means per cell
    cents = {r.cell: r.centroid
             for r in SIM.ivf_centroids(emb).collect()}
    assert cents[0] == pytest.approx([0.95, 0.05])
    assert cents[1] == pytest.approx([-0.95, -0.05])


def test_funnel_pivot_equals_selfjoin(spark):
    """SURVEY J4: the event-pair delta computed via conditional-agg
    pivot must equal the self-join formulation."""
    from picoprobedataflow_spark.plans.common import events_us

    ev = events_us(spark, "/root/testdata/sf0.001")
    pivot = (ev.groupBy("user_id")
               .agg((F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
                     - F.min(F.when(F.col("event_type") == "signup", F.col("ts"))))
                    .alias("delta"))
               .filter(F.col("delta") > 0))
    s = (ev.filter(F.col("event_type") == "signup")
           .groupBy("user_id").agg(F.min("ts").alias("ts_s")))
    p = (ev.filter(F.col("event_type") == "purchase")
           .groupBy("user_id").agg(F.min("ts").alias("ts_p")))
    selfjoin = (s.join(p, "user_id")
                 .select("user_id", (F.col("ts_p") - F.col("ts_s")).alias("delta"))
                 .filter(F.col("delta") > 0))
    a = sorted((r.user_id, r.delta) for r in pivot.collect())
    b = sorted((r.user_id, r.delta) for r in selfjoin.collect())
    assert a == b and len(a) > 0


# --------------------------------------------------------------------------
# Connected components / survivors (cluster resolution)
# --------------------------------------------------------------------------

def _union_find_components(edges, nodes):
    """Reference implementation: plain union-find, min id per set."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # union-by-min keeps each set's root at its minimum id
    return {n: find(n) for n in nodes}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation must agree with a driver-side union-find
    on a graph with chains, a triangle, and singletons-by-absence."""
    edges = [(1, 2), (2, 3), (3, 4),          # chain -> comp 1
             (10, 11), (11, 12), (10, 12),    # triangle -> comp 10
             (20, 21),                        # pair -> comp 20
             (7, 7)]                          # self-loop, harmless
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with job_group(spark, "cc-jobs") as jobs:
        labels = DD.connected_components(df)
    assert jobs() <= CC_JOBS
    got = {r.node: r.comp for r in labels.collect()}
    nodes = sorted({n for e in edges for n in e})
    want = _union_find_components(edges, nodes)
    assert got == want


@given(st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)),
                min_size=1, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_random_graphs(spark, raw_edges):
    """Property: on random small graphs the fixpoint equals union-find
    — including multi-edges, self-loops and duplicate pairs."""
    edges = [(a, b) for a, b in raw_edges if a != b] or [(0, 1)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.comp
           for r in DD.connected_components(df).collect()}
    nodes = sorted({n for e in edges for n in e})
    want = _union_find_components(edges, nodes)
    assert got == want


def test_near_dup_survivors_semantics(spark):
    """Survivor map: min id per cluster keeps, everyone else maps to
    it; docs in no pair survive as their own canonical."""
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    edges = spark.createDataFrame([(1, 2), (2, 5), (6, 7)],
                                  "doc_a long, doc_b long")
    rows = {r.doc_id: (r.canonical_id, r.keep)
            for r in DD.near_dup_survivors(docs, edges).collect()}
    assert rows[1] == (1, True)
    assert rows[2] == (1, False)
    assert rows[5] == (1, False)
    assert rows[6] == (6, True)
    assert rows[7] == (6, False)
    for singleton in (0, 3, 4):
        assert rows[singleton] == (singleton, True)
    # exactly one survivor per cluster
    keeps = [d for d, (_, k) in rows.items() if k]
    assert sorted(keeps) == [0, 1, 3, 4, 6]


@given(st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)),
                min_size=1, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_leakage_split_property_no_straddle(spark, raw_edges):
    """Property: under ANY random near-dup graph, two documents
    connected by an edge always land in the same split, and
    cluster_size equals the true component size."""
    edges = [(a, b) for a, b in raw_edges if a != b] or [(0, 1)]
    docs = spark.createDataFrame([(i,) for i in range(25)],
                                 "doc_id long")
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = {r.doc_id: r for r in DD.leakage_safe_split(
        DD.near_dup_survivors(docs, df)).collect()}
    for a, b in edges:
        assert out[a].split == out[b].split, (a, b)
        assert out[a].canonical_id == out[b].canonical_id
    from collections import Counter
    sizes = Counter(r.canonical_id for r in out.values())
    for r in out.values():
        assert r.cluster_size == sizes[r.canonical_id]


def test_normalized_fingerprint_collapses_case_and_whitespace(spark):
    """fingerprint_normalized merges case flips / reflowed whitespace
    / trailing newlines into one group; raw fingerprint_md5 keeps
    them distinct; genuinely different texts stay separate."""
    from picoprobedataflow_spark.functions.text import (
        fingerprint_normalized,
    )

    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world\n"), (3, " HELLO\tWORLD"),
         (4, "goodbye world"), (5, "goodbye world")],
        "doc_id long, text string")
    raw = DD.exact_dedup_groups(docs).collect()
    assert sorted(r.n_docs for r in raw) == [1, 1, 1, 2]
    norm = DD.exact_dedup_groups(
        docs, fingerprint=fingerprint_normalized("text")).collect()
    assert sorted(r.n_docs for r in norm) == [2, 3]
    by_n = {r.n_docs: r.canonical_id for r in norm}
    assert by_n[3] == 1 and by_n[2] == 4


def test_leakage_safe_split_never_straddles_clusters(spark):
    """Every member of a near-dup cluster lands in the SAME split (a
    pure function of canonical_id), cluster_size counts the whole
    cluster, and singletons spread across train/val/test roughly by
    the 80/10/10 cuts."""
    docs = spark.createDataFrame([(i,) for i in range(300)],
                                 "doc_id long")
    # 20 clusters of 3 (i, i+1, i+2 for i = 0, 15, 30, ...) + 240
    # singletons
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 300, 15)]
        + [(i + 1, i + 2) for i in range(0, 300, 15)],
        "doc_a long, doc_b long")
    out = DD.leakage_safe_split(
        DD.near_dup_survivors(docs, edges)).collect()
    by_id = {r.doc_id: r for r in out}
    for i in range(0, 300, 15):
        trio = [by_id[i], by_id[i + 1], by_id[i + 2]]
        assert len({r.split for r in trio}) == 1
        assert all(r.cluster_size == 3 for r in trio)
        assert all(r.canonical_id == i for r in trio)
    singles = [r for r in out if r.cluster_size == 1]
    assert len(singles) == 240
    frac = {s: sum(1 for r in singles if r.split == s) / 240
            for s in ("train", "val", "test")}
    assert 0.7 < frac["train"] < 0.9
    assert 0.03 < frac["val"] < 0.2
    assert 0.03 < frac["test"] < 0.2
    # determinism: a pure id function, stable across recomputation
    again = {(r.doc_id, r.split) for r in DD.leakage_safe_split(
        DD.near_dup_survivors(docs, edges)).collect()}
    assert again == {(r.doc_id, r.split) for r in out}


# --------------------------------------------------------------------------
# k-means coarse quantizer
# --------------------------------------------------------------------------

def _toy_embeddings(spark, n=60, dim=8, clusters=3):
    """Deterministic separated clusters (center c at 10*c per dim),
    laid out so the k-means seeding — the ``clusters`` ids with the
    smallest (md5(id), id) rank, same formula as the operator — lands
    one seed in each cluster. That makes 2-iteration Lloyd's converge
    exactly, so the tests assert recovery rather than luck."""
    import hashlib

    ranked = sorted(range(n),
                    key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                   i))
    label = {}
    for c, seed in enumerate(ranked[:clusters]):
        label[seed] = c
    rest = [i for i in range(n) if i not in label]
    for j, i in enumerate(rest):
        label[i] = j % clusters
    rows = []
    for i in range(n):
        c = label[i]
        vec = [float(10 * c + ((i * 7 + d) % 3) * 0.1) for d in range(dim)]
        rows.append((i, vec, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_kmeans_deterministic_across_partitionings(spark):
    """Same centroids regardless of input partitioning — the md5-rank
    seeding and argmin tie-breaks must not depend on row order."""
    emb = _toy_embeddings(spark)
    c1 = {r.cell: r.centroid for r in
          SIM.kmeans_centroids(emb, n_clusters=3, n_iter=2).collect()}
    c2 = {r.cell: r.centroid for r in
          SIM.kmeans_centroids(emb.repartition(7), n_clusters=3,
                               n_iter=2).collect()}
    assert set(c1) == set(c2) == {0, 1, 2}
    for cell in c1:
        assert c1[cell] == c2[cell]


def test_kmeans_recovers_separated_clusters(spark):
    """With well-separated clusters, 2 Lloyd iterations converge to
    one centroid per true cluster and the final assignment matches the
    generating label exactly (no gold label used in the build)."""
    emb = _toy_embeddings(spark)
    cents = SIM.kmeans_centroids(emb, n_clusters=3, n_iter=2)
    cent_rows = [(r.cell, list(r.centroid)) for r in cents.collect()]
    vecs = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"))
    got = cell_pairs(SIM.assign_cells(vecs, cent_rows, "_v"))
    assert got == cell_pairs(nearest_cell_reference(vecs, cent_rows))
    assigned = dict(got)
    by_label = {}
    for r in emb.select("vec_id", "label").collect():
        by_label.setdefault(r.label, set()).add(assigned[r.vec_id])
    # each true cluster maps to exactly one learned cell, all distinct
    cells = [next(iter(s)) for s in by_label.values()]
    assert all(len(s) == 1 for s in by_label.values())
    assert len(set(cells)) == 3


def test_ivf_kmeans_search_finds_nearest(spark):
    """Probing the 2 nearest learned cells must return the true
    brute-force top-k when the query sits inside a cluster."""
    emb = _toy_embeddings(spark)
    q = [float(10 * 2 + 0.05)] * 8  # inside cluster 2's region
    got = SIM.ivf_kmeans_search(emb, q, k=3, n_probe=2, n_clusters=3,
                                n_iter=2).collect()
    brute = (SIM.topk_cosine(emb, q, k=3).collect())
    assert [r.vec_id for r in got] == [r.vec_id for r in brute]
    assert all(abs(a.cosine - b.cosine) < 1e-9
               for a, b in zip(got, brute))


def test_star_components_equal_label_propagation(spark):
    """The large-star/small-star formulation (adversarial-diameter
    path) must produce the identical (node, comp) map as min-label
    propagation — including on a long chain, the shape that motivates
    it."""
    chain = [(i, i + 1) for i in range(30)]            # diameter 30
    extra = [(100, 101), (101, 102), (100, 102), (200, 200)]
    edges = chain + extra
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    lp = {r.node: r.comp for r in DD.connected_components(
        df, max_iter=40).collect()}
    with job_group(spark, "star-jobs") as jobs:
        labels = DD.connected_components_star(df)
    assert jobs() <= STAR_JOBS
    star = {r.node: r.comp for r in labels.collect()}
    # 200 has only a self-loop: label propagation drops self-loops the
    # same way; both must map it to itself
    assert star == lp
    assert star[30] == 0 and star[102] == 100 and star[200] == 200


@given(st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)),
                min_size=1, max_size=30))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_components_random_graphs(spark, raw_edges):
    edges = [(a, b) for a, b in raw_edges if a != b] or [(0, 1)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r.node: r.comp
            for r in DD.connected_components_star(df).collect()}
    nodes = sorted({n for e in edges for n in e})
    want = _union_find_components(edges, nodes)
    assert star == want


def test_apply_survivors_filters_corpus(spark):
    """End-to-end dedup loop: pairs -> survivors -> filtered corpus
    keeps exactly one doc per cluster plus all singletons."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string")
    edges = spark.createDataFrame([(0, 3), (3, 5)],
                                  "doc_a long, doc_b long")
    surv = DD.near_dup_survivors(docs, edges)
    kept = sorted(r.doc_id
                  for r in DD.apply_survivors(docs, surv).collect())
    assert kept == [0, 1, 2, 4]
    plan = (DD.apply_survivors(docs, surv)
            ._jdf.queryExecution().analyzed().toString())
    assert "LeftSemi" in plan


# --------------------------------------------------------------------------
# int8 quantization + TF-IDF (training-data storage/featurization)
# --------------------------------------------------------------------------

def test_quantize_int8_roundtrip_and_ann_agreement(spark):
    """Quantize → dequantize must bound error by 0.5/scale_inv per
    element, and cosine top-k over dequantized int8 vectors must agree
    with float top-k on separated data (the 4x-storage ANN path)."""
    from picoprobedataflow_spark.functions import vectors as V

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # corpus scale: 127 / max abs value
    max_abs = emb.select(F.max(F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0), lambda a, b: F.greatest(a, b))).alias("m")).head().m
    si = 127.0 / max_abs
    q = emb.select("vec_id", "embedding",
                   V.quantize_int8(F.col("embedding"), si).alias("q8"))
    deq = q.select("vec_id", "embedding",
                   V.dequantize_int8(F.col("q8"), si).alias("back"))
    err = deq.select(F.max(F.aggregate(
        F.zip_with("embedding", "back",
                   lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0), lambda a, b: F.greatest(a, b))).alias("e")).head().e
    assert err <= 0.5 / si + 1e-12

    from picoprobedataflow_spark.operators import similarity as SIM
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).head().embedding]
    top_f = [r.vec_id for r in SIM.topk_cosine(
        emb.filter(F.col("vec_id") > 0), qvec, k=5).collect()]
    deq_emb = deq.filter(F.col("vec_id") > 0).select(
        "vec_id", F.col("back").alias("embedding"))
    top_q = [r.vec_id for r in SIM.topk_cosine(deq_emb, qvec, k=5).collect()]
    assert top_f == top_q


def test_tfidf_vectors_hand_check(spark):
    """TF-IDF on a 3-doc corpus: shared terms get idf
    ln(4/df+1-ish)+1, doc-unique terms weigh more; values match the
    hand formula."""
    import math

    from picoprobedataflow_spark.functions.text import tfidf_vectors

    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "apple cherry"), (2, "durian")],
        "doc_id long, text string")
    out = {r.doc_id: {t.term: t.weight for t in r.tfidf}
           for r in tfidf_vectors(docs).collect()}
    idf = lambda df: math.log((3 + 1) / (df + 1)) + 1.0  # noqa: E731
    assert abs(out[0]["apple"] - 2 * idf(2)) < 1e-9
    assert abs(out[0]["banana"] - 1 * idf(1)) < 1e-9
    assert abs(out[1]["cherry"] - idf(1)) < 1e-9
    assert abs(out[2]["durian"] - idf(1)) < 1e-9
    # doc-unique beats corpus-common at equal tf
    assert out[1]["cherry"] > out[1]["apple"]


def test_dsir_importance_weights_separate_target_from_offdomain(spark):
    """DSIR hashed-bigram log-likelihood-ratio weights: docs written
    in the target's bigram distribution must score strictly above
    docs from a disjoint distribution, weights must be stable under
    repartitioning, and docs with < 2 tokens drop out."""
    from picoprobedataflow_spark.functions.text import (
        dsir_importance_weights)

    tgt = " ".join("alpha beta gamma delta".split() * 10)
    off = " ".join("omega psi chi phi".split() * 10)
    rows = ([(i, tgt + f" tail{i}", "en") for i in range(6)]
            + [(i + 6, off + f" tail{i}", "de") for i in range(6)]
            + [(12, tgt, "de"),      # target-like text, off-target label
               (13, "solo", "en")])  # 1 token: no bigrams
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    w = {r.doc_id: r.w for r in dsir_importance_weights(docs).collect()}
    assert 13 not in w and len(w) == 13
    # every target-distribution doc outscores every off-domain doc —
    # including the mislabeled one (selection is by CONTENT, the gold
    # label only fits the model).
    tgt_ids = set(range(6)) | {12}
    off_ids = set(range(6, 12))
    assert min(w[i] for i in tgt_ids) > max(w[i] for i in off_ids)
    assert all(w[i] > 0 for i in tgt_ids)
    assert all(w[i] < 0 for i in off_ids)

    w2 = {r.doc_id: r.w
          for r in dsir_importance_weights(docs.repartition(7)).collect()}
    assert all(abs(w[i] - w2[i]) < 1e-9 for i in w)


def test_mixture_sample_deterministic_and_proportional(spark):
    """Mixture sampling: stable across partitionings, roughly
    proportional to the weights, exact-zero for unlisted sources, and
    per-doc decisions independent of other sources' weights."""
    from picoprobedataflow_spark.functions.text import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"src0": 0.5, "src1": 1.0, "src2": 0.25}
    a = {r.doc_id for r in mixture_sample(docs, weights).select("doc_id").collect()}
    b = {r.doc_id for r in mixture_sample(docs.repartition(13), weights)
         .select("doc_id").collect()}
    assert a == b and a
    srcs = {r.source for r in docs.select("source").distinct().collect()}
    kept_by_src = {s: 0 for s in srcs}
    base_by_src = {r.source: r.n for r in
                   docs.groupBy("source").count()
                       .withColumnRenamed("count", "n").collect()}
    for r in mixture_sample(docs, weights).groupBy("source").count().collect():
        kept_by_src[r.source] = r["count"]
    for s in srcs:
        w = weights.get(s, 0.0)
        if w == 0.0:
            assert kept_by_src[s] == 0
        else:
            frac = kept_by_src[s] / base_by_src[s]
            assert abs(frac - w) < 0.15, (s, frac, w)
    # independence: changing src1's weight leaves src0's kept set alone
    a_src = {r.doc_id for r in mixture_sample(
        docs, {"src0": 0.5, "src1": 0.2}).filter(F.col("source") == "src0")
        .select("doc_id").collect()}
    b_src = {r.doc_id for r in mixture_sample(
        docs, {"src0": 0.5, "src1": 0.9}).filter(F.col("source") == "src0")
        .select("doc_id").collect()}
    assert a_src == b_src


def test_stratified_sample_exact_quota_and_two_phase_equivalence(spark):
    """Exact-quota stratified sampling: every stratum keeps exactly
    min(quota, |stratum|) docs, the kept set is a pure function of
    the ids (stable across partitionings and shard widths — the
    two-phase sharded top-N must equal the single-window selection),
    and all windows in the deployed plan carry the shard key."""
    import re

    from pyspark.sql.window import Window as W

    from picoprobedataflow_spark.functions.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sizes = {r.source: r.n for r in docs.groupBy("source").count()
             .withColumnRenamed("count", "n").collect()}
    quota = 30

    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
              .cast("binary"))
    single = (docs.withColumn(
        "_r", F.row_number().over(
            W.partitionBy("source").orderBy(h, "doc_id")))
        .filter(F.col("_r") <= quota))
    want = {r.doc_id for r in single.select("doc_id").collect()}

    for span in (1, 7, 32):
        got_df = stratified_sample(docs, quota, shard_span=span)
        got = {r.doc_id for r in got_df.select("doc_id").collect()}
        assert got == want, f"span={span}"
    by_src = {r.source: r.n for r in
              stratified_sample(docs.repartition(11), quota)
              .groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    assert by_src == {s: min(quota, n) for s, n in sizes.items()}

    plan = (stratified_sample(docs, quota)
            ._jdf.queryExecution().executedPlan().toString())
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    # phase-1's window partitions by (source, shard) — two partition
    # columns before the first ordering expression; phase-2's
    # per-stratum window ranks only the <= quota*shards survivors
    def n_part_cols(spec):
        n = 0
        for field in spec.split(", "):
            if " ASC" in field or " DESC" in field:
                break
            n += 1
        return n
    assert max(n_part_cols(s) for s in specs) >= 2, specs


# --------------------------------------------------------------------------
# Binned range join
# --------------------------------------------------------------------------

def test_bin_range_join_equals_theta_join(spark):
    """The binned formulation must return exactly the rows of the
    naive non-equi containment join, for intervals shorter AND longer
    than the bin width, and its physical plan must be a hash/merge
    equi-join on the bin — never a nested loop."""
    from picoprobedataflow_spark.operators.rangejoin import bin_range_join

    W_US = 100
    points = spark.createDataFrame(
        [(i, i * 17 % 1000) for i in range(200)], "pid long, ts long")
    intervals = spark.createDataFrame(
        [(0, 10, 60),        # inside one bin
         (1, 90, 110),       # straddles a bin edge
         (2, 100, 640),      # 6 bins long
         (3, 995, 999),      # tail
         (4, 400, 400)],     # degenerate single-tick
        "iid long, start long, end long")
    got = sorted((r.pid, r.iid) for r in bin_range_join(
        points, intervals, bin_width=W_US).collect())
    want = sorted((p, i) for p, t in [(r.pid, r.ts)
                                      for r in points.collect()]
                  for i, s, e in [(r.iid, r.start, r.end)
                                  for r in intervals.collect()]
                  if s <= t <= e)
    assert got == want and got

    plan = (bin_range_join(points, intervals, bin_width=W_US)
            ._jdf.queryExecution().executedPlan().toString())
    assert "NestedLoop" not in plan, plan
    # the naive theta join, for contrast, IS quadratic (nested loop /
    # cartesian product with a residual predicate)
    naive = points.join(intervals, (F.col("ts") >= F.col("start"))
                        & (F.col("ts") <= F.col("end")))
    nplan = naive._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" in nplan or "CartesianProduct" in nplan


def test_langid_ngram_on_crafted_multilingual_text(spark):
    """Character-trigram LID: tokenizer-free, must classify crafted
    sentences in all five profile languages (incl. zh, which has no
    space-delimited words for the stopword variant to hit)."""
    from picoprobedataflow_spark.functions.text import langid_ngram

    samples = [
        ("en", "the cat is in the house and the dog is of the street"),
        ("de", "der hund ist nicht ein tier und das haus ist die stadt"),
        ("fr", "le chat est un animal et les maisons est une ville"),
        ("es", "el perro es un animal y los gatos es una ciudad"),
        ("zh", "的是不了在人有的是在"),
    ]
    df = spark.createDataFrame(samples, "lang string, text string")
    got = {r.lang: r.pred for r in
           df.select("lang", langid_ngram("text").alias("pred")).collect()}
    assert got == {lang: lang for lang, _ in samples}, got


def test_repetition_metrics_hand_values(spark):
    """Gopher repetition signals on crafted docs with exact expected
    fractions: an all-same-word doc must be dropped, a no-repeat doc
    kept, and the fractions are exact-integer-ratio doubles."""
    from picoprobedataflow_spark.functions.text import repetition_metrics

    docs = _docs(spark, [
        "spam spam spam spam",          # top_word 4/4, everything dup
        "alpha beta gamma delta",       # no repetition at all
        "x y x y x y",                  # top_word 3/6, "x y" bigram heavy
    ])
    rows = {r.doc_id: r for r in repetition_metrics(docs).collect()}

    assert rows[0].top_word_frac == 1.0 and rows[0].keep is False
    # "spam spam" occurs 3x, mass 3*9=27 of total 3*9=27
    assert rows[0].top_bigram_frac == 1.0
    assert rows[0].dup_trigram_frac == 1.0

    assert rows[1].top_word_frac == 0.25
    assert rows[1].dup_trigram_frac == 0.0 and rows[1].keep is False
    # keep=False because top_word 0.25 > 0.10 threshold

    assert rows[2].top_word_frac == 0.5
    # bigrams: "x y" 3x (len 3), "y x" 2x (len 3) -> top 9/15
    assert rows[2].top_bigram_frac == 9 / 15
    # trigrams: "x y x" 2x, "y x y" 2x -> all 12/12 duplicated
    assert rows[2].dup_trigram_frac == 1.0


def test_pii_scrub_and_counts(spark):
    from picoprobedataflow_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [(0, "mail alice@example.com or call +1 (555) 123-4567 "
             "from 192.168.0.1 today")],
        "id long, text string")
    counts = {k: c.alias(k) for k, c in pii_counts("text").items()}
    row = df.select(scrub_pii("text").alias("clean"),
                    *counts.values()).head()
    assert row.email == 1 and row.phone == 1 and row.ipv4 == 1
    assert "<EMAIL>" in row.clean and "<PHONE>" in row.clean \
        and "<IP>" in row.clean
    assert "alice" not in row.clean and "555" not in row.clean \
        and "192.168" not in row.clean


def test_c4_line_filter(spark):
    from picoprobedataflow_spark.functions.text import c4_clean_lines

    text = "\n".join([
        "This is a proper sentence with enough words.",   # keep
        "short line.",                                    # < 4 words
        "no terminal punctuation here at all",            # no punct
        "Please enable javascript to view this page.",    # boilerplate
        "function() { return 1; }",                       # code brace
        "Another good sentence survives the filter!",     # keep? no \" end
    ])
    df = spark.createDataFrame([(0, text)], "id long, text string")
    clean = df.select(c4_clean_lines("text").alias("t")).head().t
    lines = clean.split("\n")
    assert lines[0] == "This is a proper sentence with enough words."
    assert all("javascript" not in ln and "{" not in ln for ln in lines)
    assert "short line." not in lines
    assert "Another good sentence survives the filter!" in lines


def _pack_fixture(spark, n=200, parts=2):
    rows = [(i, f"p{i % parts}", (i * 37) % 90 + 10) for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, part string, n_tokens long")


def test_pack_two_phase_equals_single_window(spark):
    """The deployed two-phase cumsum (parallel shard windows +
    broadcast offsets) must be value-identical to the single-reducer
    global window, for several shard widths incl. ones that don't
    divide the key range."""
    from picoprobedataflow_spark.operators.packing import (
        pack_sequences, pack_sequences_single_window)

    df = _pack_fixture(spark)
    want = sorted(pack_sequences_single_window(
        df, ctx_len=128, part_cols=("part",)).collect())
    for span in (1, 7, 64, 1000):
        got = sorted(pack_sequences(
            df, ctx_len=128, shard_span=span,
            part_cols=("part",)).collect())
        assert got == want, f"span={span}"


def test_pack_invariants(spark):
    """Packing semantics: per partition, cum_before is the exact
    running total in doc_id order, offsets stay inside the context
    window, and bins advance monotonically without gaps."""
    from picoprobedataflow_spark.operators.packing import pack_sequences

    ctx = 100
    rows = pack_sequences(_pack_fixture(spark), ctx_len=ctx,
                          shard_span=16, part_cols=("part",)).collect()
    by_part = {}
    for r in sorted(rows, key=lambda r: (r.part, r.doc_id)):
        by_part.setdefault(r.part, []).append(r)
    for part, seq in by_part.items():
        run = 0
        prev_last = 0
        for r in seq:
            assert r.cum_before == run
            assert 0 <= r.offset_in_bin < ctx
            assert r.offset_in_bin == r.cum_before % ctx
            assert r.bin_first == r.cum_before // ctx
            assert r.bin_last == (r.cum_before + max(r.n_tokens, 1) - 1) // ctx
            assert r.n_bins == r.bin_last - r.bin_first + 1 >= 1
            # streams are gapless: next doc starts in the same or next bin
            assert r.bin_first - prev_last <= 1
            prev_last = r.bin_last
            run += r.n_tokens


def test_pack_no_single_reducer_window(spark):
    """The deployed plan's windows must all be keyed by (part, shard) —
    no global-order Window without a shard key (the 100 TB trap)."""
    from picoprobedataflow_spark.operators.packing import pack_sequences

    plan = (pack_sequences(_pack_fixture(spark), ctx_len=128,
                           shard_span=16, part_cols=("part",))
            ._jdf.queryExecution().executedPlan().toString())
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_shard" in spec, plan


def test_incremental_minhash_equals_full_recompute(spark):
    """Incremental dedup (new batch vs stored corpus signature/band
    tables) must produce exactly the batch-touching pairs of a full
    recompute over corpus ∪ batch — same pairs, same estimates."""
    from picoprobedataflow_spark.operators.dedup import (
        band_signatures, incremental_minhash_dedup, minhash_lsh_dedup,
        minhash_signatures)

    base = ["the quick brown fox jumps over the lazy dog today",
            "a completely different document about spark shuffles",
            "rows columns partitions and the shuffle boundary story"]
    corpus = _docs(spark, base * 2)            # ids 0-5, exact dup texts
    new = spark.createDataFrame(
        [(100, base[0]),                        # dup of corpus docs 0/3
         (101, "the quick brown fox jumps over the lazy dog tonight"),
         (102, "an entirely unrelated new record with fresh words"),
         (103, "an entirely unrelated new record with fresh words")],
        "doc_id long, text string")

    corpus_sigs = minhash_signatures(corpus)
    corpus_bands = band_signatures(corpus_sigs)
    _, new_bands, pairs = incremental_minhash_dedup(
        new, corpus_sigs, corpus_bands)
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs.collect()}

    full = minhash_lsh_dedup(corpus.unionByName(new))
    new_ids = {100, 101, 102, 103}
    want = {(r.doc_a, r.doc_b): r.est_jaccard
            for r in full.collect()
            if r.doc_a in new_ids or r.doc_b in new_ids}

    assert got == want and got  # non-empty: dups straddle the batches
    assert (100, 103) not in got  # sanity: 102/103 pair exists though
    assert (102, 103) in got and got[(102, 103)] == 1.0
    # appended tables equal what a fresh full signing would store
    assert sorted(map(tuple, new_bands.collect())) == \
        sorted(map(tuple, band_signatures(minhash_signatures(new))
                   .collect()))


def test_bm25_scores_hand_check(spark):
    """BM25 on a 3-doc corpus vs the hand formula (Lucene idf,
    k1=1.2, b=0.75): tf saturation and length normalization both
    move scores the right way."""
    import math

    from picoprobedataflow_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "apple cherry"), (2, "durian pear")],
        "doc_id long, text string")
    out = {r.doc_id: r.score
           for r in bm25_scores(docs, ["apple", "durian"]).collect()}
    n, avgdl, k1, b = 3.0, (3 + 2 + 2) / 3.0, 1.2, 0.75

    def bm25(tf, df, dl):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(out[0] - bm25(2, 2, 3)) < 1e-9
    assert abs(out[1] - bm25(1, 2, 2)) < 1e-9
    assert abs(out[2] - bm25(1, 1, 2)) < 1e-9
    # rarer term (df=1) outranks the common one at equal tf and dl
    assert out[2] > out[1]
    # docs with no query term don't appear
    assert set(out) == {0, 1, 2}


def test_bm25_retrieval_scale_shapes(spark):
    """The BM25 entry's plan: query-term filter evaluated before any
    aggregate (the |Q|-term reduction happens at the token stream,
    not post-vocabulary), broadcast joins only for the |Q|-row idf
    and 1-row stats sides, and a TakeOrderedAndProject top-k — no
    global Sort, no SortMergeJoin."""
    from picoprobedataflow_spark.plans import catalog

    df = PL.bm25_retrieval(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=25" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the isin filter sits below the first hash aggregate
    agg_pos = plan.find("HashAggregate")
    assert agg_pos > 0 and "term" in plan[agg_pos:]
    assert df.count() > 0


def test_token_budget_three_phase_equals_single_window(spark):
    """select_token_budget's three-level stitch is value-identical to
    the single-global-window form across shard widths (incl. widths
    that don't divide the corpus and span=1), and the kept set is the
    exact greedy prefix: sorted by (qb DESC, doc_id), every kept doc
    starts under budget, the first dropped one doesn't."""
    from picoprobedataflow_spark.operators.packing import (
        select_token_budget, select_token_budget_single_window)

    rows = [(i, (i * 7919) % 23, 1 + (i * 31) % 40) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, qb long, n_tokens long")
    budget = 2000
    want = sorted(select_token_budget_single_window(df, budget)
                  .collect())
    for span in (1, 7, 64, 1000):
        got = sorted(select_token_budget(df, budget, shard_span=span)
                     .collect())
        assert got == want, f"span={span}"
    # greedy-prefix semantics
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, kept = 0, []
    for i, qb, t in ordered:
        if cum < budget:
            kept.append((i, qb, t, cum))
        cum += t
    assert sorted(kept) == [tuple(r) for r in want]


def test_token_budget_windows_keyed_or_domain_bounded(spark):
    """Plan discipline: every window over corpus-proportional data is
    keyed by (qb, _sh); exactly one partition-less window exists and
    it runs over the per-bucket grand totals (ordered by qb alone —
    the domain-bounded stitch stage)."""
    import re

    from picoprobedataflow_spark.plans import catalog

    df = PL.token_budget_curriculum(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    partitionless = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0]
        if " ASC" in first or " DESC" in first:
            partitionless.append(spec)
        else:
            assert "_sh" in spec or "qb" in spec, spec
    assert len(partitionless) == 1, partitionless
    assert partitionless[0].startswith("qb"), partitionless


def test_semantic_dedup_prunes_exact_and_keeps_distinct(spark):
    """SemDeDup on a crafted corpus: identical vectors collapse to
    the smallest id; near-orthogonal vectors all survive; n_similar
    counts cluster-mates over the rounded-cosine threshold; and the
    verdict covers every input vector exactly once."""
    from picoprobedataflow_spark.operators.similarity import \
        semantic_dedup

    dim = 8
    def vec(axis, eps=0.0):
        v = [eps] * dim
        v[axis] = 1.0
        return v
    rows = [(1, vec(0)), (2, vec(0)), (3, vec(0)),   # triple dup
            (4, vec(1)), (5, vec(1, 0.01)),          # near-dup pair
            (6, vec(2)), (7, vec(3))]                # singletons
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in
           semantic_dedup(emb, n_clusters=2, n_iter=2,
                          threshold=0.9).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    assert out[1].keep and not out[2].keep and not out[3].keep
    assert out[1].n_similar == 2
    assert out[4].keep and not out[5].keep
    assert out[6].keep and out[7].keep and out[6].n_similar == 0
    # pruned vectors always point at a smaller kept-or-pruned mate:
    # the greedy keep rule is "no smaller-id similar cluster-mate".
    for vid, r in out.items():
        if not r.keep:
            assert r.n_similar >= 1


def test_semdedup_entry_scale_shapes(spark):
    """The SemDeDup entry's plan: assignment is the narrow map-side
    centroid expression (no window anywhere), the self-join is an
    equi-join on cell (never a Cartesian product), and the neighbor
    aggregate keys on the high-cardinality vector id."""
    from picoprobedataflow_spark.plans import catalog

    df = PL.semdedup_embedding_prune(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert df.count() > 0


def test_pq_encode_deterministic_and_bounded_codes(spark):
    """PQ encode: one code column per subspace, every code in
    [0, n_codes), coverage of all input ids, and bit-identical codes
    across two independent builds (the md5-seeded build has no
    nondeterminism to leak)."""
    from picoprobedataflow_spark.operators.similarity import pq_encode

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter("vec_id > 0"))
    codes1, books = pq_encode(emb, m=4, n_codes=8, n_iter=1)
    codes2, _ = pq_encode(emb, m=4, n_codes=8, n_iter=1)
    r1 = sorted(map(tuple, codes1.collect()))
    r2 = sorted(map(tuple, codes2.collect()))
    assert r1 == r2
    assert len(r1) == emb.count()
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    for row in r1:
        assert all(0 <= c < 8 for c in row[1:])


def test_pq_adc_plan_is_codes_only(spark):
    """The ADC search plan must never touch the vector column: no
    join, no window, no shuffle Exchange — map-side code lookups into
    literal tables feeding one TakeOrderedAndProject."""
    from picoprobedataflow_spark.plans import catalog

    df = PL.ann_pq_adc_topk(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) == 10
    # adc is a sum of squared distances: non-negative, ascending
    adcs = [r.adc for r in rows]
    assert adcs == sorted(adcs) and all(a >= 0 for a in adcs)


def test_cross_doc_span_dedup_first_occurrence_semantics(spark):
    """Span dedup on a crafted corpus: a window repeated across docs
    is flagged everywhere except its (doc, idx)-smallest occurrence,
    including intra-doc repeats; distinct windows are never flagged;
    short docs (< span_w tokens) contribute no windows."""
    from picoprobedataflow_spark.operators.dedup import \
        cross_doc_span_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d x y z w"),          # spans: 'a b c d', 'x y z w'
         (2, "a b c d q r s t"),          # first span dups doc 1
         (3, "x y z w x y z w"),          # both spans dup doc 1's 2nd
         (4, "p q"),                      # too short: no windows
         (5, "unique tokens only here")],
        "doc_id long, text string")
    rows = cross_doc_span_dedup(docs, span_w=4).collect()
    by = {(r.doc_id, r.idx): r for r in rows}
    assert not by[(1, 0)].is_dup and not by[(1, 1)].is_dup
    assert by[(2, 0)].is_dup and not by[(2, 1)].is_dup
    assert by[(3, 0)].is_dup and by[(3, 1)].is_dup
    assert (by[(3, 0)].first_id, by[(3, 0)].first_pos) == (1, 1)
    assert not by[(5, 0)].is_dup
    assert not any(d == 4 for d, _ in by)
    assert len(by) == 7


def test_ivfpq_plan_and_probe_semantics(spark):
    """IVF-PQ: the search plan is joins/windows-free (codes +
    literal LUTs + TakeOrderedAndProject), results come only from
    probed cells (≤ n_probe distinct cells), and the adc ranking is
    ascending with deterministic id tie-breaks."""
    from picoprobedataflow_spark.plans import catalog

    df = PL.ann_ivfpq_topk(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Window" not in plan
    rows = df.collect()
    assert len(rows) == 10
    assert len({r.cell for r in rows}) <= 2
    adcs = [r.adc for r in rows]
    assert adcs == sorted(adcs) and all(a >= 0 for a in adcs)


def test_ivfpq_production_config_recall(spark):
    """The interior point the 100 TB ANN story relies on: at a
    production-shaped configuration — 64 coarse cells, probe 16
    (25% of cells), m=8 subquantizers × 256 codes (8-bit, the
    standard PQ byte code), ADC shortlist 50 → exact rerank — the
    search must reach recall@10 ≥ 0.9 against brute-force cosine at
    sf0.01. The oracle-sized table (8 cells / 8 codes) bounds the
    small end and the probe-all≡exact pin bounds the top; this pins
    the middle. Decomposition behind the config (SCALE.md round 7):
    exact probing at 16/64 cells already reaches recall 1.0 on this
    corpus, and the true top-10 all sit within ADC rank 36, so a
    50-deep refine recovers everything probing kept. Measured 1.0;
    asserted ≥ 0.9 to absorb corpus regeneration."""
    from picoprobedataflow_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    corpus = emb.filter("vec_id > 0").localCheckpoint(eager=True)
    brute = {r.vec_id
             for r in SIM.topk_cosine(corpus, qv, k=10).collect()}
    got = SIM.ivfpq_search(corpus, qv, k=10, n_cells=64, n_probe=16,
                           m=8, n_codes=256, rerank=50)
    # the probe filter sits between the coarse pass and the m book
    # passes, so codes are computed only for rows in probed cells
    lines = got._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    filt = next(i for i, ln in enumerate(lines)
                if "Filter" in ln and "cell#" in ln)
    assert sum("MapInArrow" in ln for ln in lines[:filt]) == 8
    assert sum("MapInArrow" in ln for ln in lines[filt:]) == 1
    rows = got.collect()
    assert len(rows) == 10
    recall = len({r.vec_id for r in rows} & brute) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"
    cosines = [r.cosine for r in rows]
    assert cosines == sorted(cosines, reverse=True)


def test_ivfpq_partial_injection_raises(spark):
    """Injecting exactly one of coarse_rows/codebooks must be loud:
    silently rebuilding BOTH would discard the provided quantizer and
    produce results the caller did not ask for."""
    import pytest as _pytest

    from picoprobedataflow_spark.operators import similarity as SIM

    emb = (spark.read
           .parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter("vec_id > 0"))
    with _pytest.raises(ValueError, match="BOTH"):
        SIM.ivfpq_search(emb, [0.0] * 64, coarse_rows=[(0, [0.0] * 64)])


def test_quant_shared_build_equals_self_build(spark):
    """Round 6: the quantized-suite shared build (one coarse k-means +
    one raw-vector PQ + one residual PQ, injected into all three
    searches) must be row-identical to each search building its own
    index — the independent-vs-joint-build equality the docstrings
    claim. Also pins that the memo caches: a second call returns the
    same objects without re-building."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark import session as S

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") > 0)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]

    S._SESSION_MEMO.clear()
    shared_pq = PL.ann_pq_adc_topk(spark, sf).collect()
    shared_ivfpq = PL.ann_ivfpq_topk(spark, sf).collect()
    shared_res = PL.ann_ivfpq_residual_topk(spark, sf).collect()
    assert len(S._SESSION_MEMO) == 1
    build = next(iter(S._SESSION_MEMO.values()))
    assert PL.ann_pq_adc_topk(spark, sf).collect() == shared_pq
    assert next(iter(S._SESSION_MEMO.values())) is build

    self_pq = SIM.pq_adc_search(corpus, qvec, k=10, m=4, n_codes=8,
                                n_iter=2).collect()
    self_ivfpq = SIM.ivfpq_search(corpus, qvec, k=10, n_cells=8,
                                  n_probe=2, m=4, n_codes=8,
                                  n_iter=2).collect()
    self_res = SIM.ivfpq_residual_search(corpus, qvec, k=10, n_cells=8,
                                         n_probe=2, m=4, n_codes=8,
                                         n_iter=2).collect()
    assert shared_pq == self_pq
    assert shared_ivfpq == self_ivfpq
    assert shared_res == self_res


def test_ann_probe_all_recovers_exact_topk(spark):
    """Approximation-quality mechanism pins: (a) IVF-k-means with
    n_probe = n_cells is EXACT — probing every cell degenerates to
    brute force, so the top-k equals topk_cosine's; (b) IVF-PQ with
    probe-all still ranks by ADC (approximate), but returns k rows
    from the full corpus with every coarse cell eligible. This is the
    recall knob's boundary condition: recall@k → 1 as n_probe → k."""
    from pyspark.sql import functions as F

    emb = (spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet"))
    corpus = emb.filter(F.col("vec_id") > 0)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    exact = [r.vec_id for r in
             SIM.topk_cosine(corpus, qvec, k=10).collect()]
    ivf_all = [r.vec_id for r in
               SIM.ivf_kmeans_search(corpus, qvec, k=10, n_probe=8,
                                     n_clusters=8, n_iter=2).collect()]
    assert ivf_all == exact
    ivfpq_all = SIM.ivfpq_search(corpus, qvec, k=10, n_cells=8,
                                 n_probe=8, m=4, n_codes=8,
                                 n_iter=2).collect()
    assert len(ivfpq_all) == 10


def test_vocab_coverage_hand_check(spark):
    """OOV accounting on a crafted corpus with a df≥2 vocabulary:
    only 'apple' qualifies; coverage counts token MASS (not types)
    and rates match hand math per source."""
    from picoprobedataflow_spark.plans.pipeline import \
        vocab_coverage_stats as _  # entry exists; use operator inline
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.functions.text import words

    docs = spark.createDataFrame(
        [(0, "apple apple pear", "a"), (1, "apple kiwi", "a"),
         (2, "plum plum plum", "b")],
        "doc_id long, text string, source string")
    toks = docs.select("doc_id", F.explode(words("text")).alias("term"))
    vocab = (toks.groupBy("term")
             .agg(F.countDistinct("doc_id").alias("df"))
             .filter(F.col("df") >= 2))
    assert [r.term for r in vocab.collect()] == ["apple"]
    per_doc = (toks.join(F.broadcast(vocab.select("term")
                                     .withColumn("_in", F.lit(1))),
                         "term", "left")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tok"),
                    F.sum(F.coalesce("_in", F.lit(0))).alias("n_cov")))
    got = {r.doc_id: (r.n_tok, r.n_cov) for r in per_doc.collect()}
    assert got == {0: (3, 2), 1: (2, 1), 2: (3, 0)}


def test_unigram_logprob_hand_check(spark):
    """Add-one unigram LM on a 2-doc corpus vs hand math: common
    tokens score higher than rare ones, probabilities are properly
    smoothed over (total + vocab), and n_tok is the doc's token
    count."""
    import math

    from picoprobedataflow_spark.functions.text import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    # corpus: a=3, b=1, c=1; total=5, vocab=3 → denom 8
    lp = {t: math.log((c + 1) / 8.0) for t, c in
          {"a": 3, "b": 1, "c": 1}.items()}
    assert out[0].n_tok == 3 and out[1].n_tok == 2
    assert abs(out[0].avg_logprob - (2 * lp["a"] + lp["b"]) / 3) < 1e-9
    assert abs(out[1].avg_logprob - (lp["a"] + lp["c"]) / 2) < 1e-9
    # the all-common-token doc scores higher than the rare-token one
    assert out[0].avg_logprob > out[1].avg_logprob


def test_batch_topk_two_phase_equals_single_window(spark):
    """Batch top-k: the two-phase sharded ranking must equal the
    single-window formulation across shard widths (incl. widths that
    don't divide the corpus), and every window in the deployed plan
    carries a shard or query key (no whole-frame spec)."""
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)

    from picoprobedataflow_spark.functions import vectors as V

    q = queries.select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("_qv"))
    scored = (corpus.join(F.broadcast(q))
              .select("qid", "vec_id",
                      F.round(V.cosine(F.col("embedding"),
                                       F.col("_qv")), 6)
                       .alias("cosine")))
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    want = sorted(map(tuple,
                      scored.withColumn("rk", F.row_number().over(w))
                      .filter(F.col("rk") <= 5)
                      .select("qid", "vec_id", "cosine", "rk")
                      .collect()))
    for span in (1, 7, 32, 10_000):
        got = sorted(map(tuple, SIM.batch_topk_cosine(
            queries, corpus, k=5, shard_span=span).collect()))
        assert got == want, f"span={span}"
    plan = (SIM.batch_topk_cosine(queries, corpus, k=5)
            ._jdf.queryExecution().executedPlan().toString())
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, spec


def test_ivfpq_residual_plan_and_quality(spark):
    """Residual IVF-PQ: codes-only search plan (no Join/Window after
    the builds), results confined to probed cells, ascending
    non-negative ADC, and a genuinely different ranking than the
    raw-vector variant (the residual codebooks are trained on a
    different stream — identical output would mean the residual
    path silently fell through to raw)."""
    from picoprobedataflow_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    df = PL.ann_ivfpq_residual_topk(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Window" not in plan
    rows = df.collect()
    assert len(rows) == 10
    assert len({r.cell for r in rows}) <= 2
    adcs = [r.adc for r in rows]
    assert adcs == sorted(adcs) and all(a >= 0 for a in adcs)
    raw = PL.ann_ivfpq_topk(spark, sf).collect()
    assert ([(r.vec_id, r.c0, r.c1, r.c2, r.c3, r.adc) for r in rows]
            != [(r.vec_id, r.c0, r.c1, r.c2, r.c3, r.adc) for r in raw])


def test_span_dedup_bounded_subset_of_global(spark):
    """The bounded-horizon family: bounded dups are a subset of
    global dups per doc (a same-bucket predecessor is also a global
    predecessor), equality holds for docs whose dups are all
    intra-bucket, and a span recurring only across buckets re-admits
    (bounded 0 < global)."""
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.plans import catalog

    rows = (PL.span_dedup_stats(spark, "/root/testdata/sf0.01").collect())
    assert all(r.n_dup_bounded <= r.n_dup for r in rows)
    assert any(r.n_dup_bounded < r.n_dup for r in rows)  # re-admits
    assert sum(r.n_dup_bounded for r in rows) > 0        # still catches


def test_packing_window_manifest_invariants(spark):
    """Manifest invariants per split: bins are contiguous 0..max,
    every non-tail window is exactly full (occupancy == ctx_len),
    occupancy sums to the split's clamped token total, and doc spans
    are consistent (first_doc <= last_doc)."""
    from collections import defaultdict

    from picoprobedataflow_spark.plans import catalog
    from picoprobedataflow_spark.plans.pipeline import _PACK_CTX

    sf = "/root/testdata/sf0.01"
    rows = (PL.packing_window_manifest(spark, sf).collect())
    packed = (catalog.specs()["sequence_packing"].fn(spark, sf)
              .collect())
    tok_by_split = defaultdict(int)
    for p in packed:
        tok_by_split[p.split] += max(p.n_tokens, 1)
    by_split = defaultdict(list)
    for r in rows:
        assert r.first_doc <= r.last_doc
        by_split[r.split].append(r)
    for split, grp in by_split.items():
        bins = sorted(r.bin for r in grp)
        assert bins == list(range(len(bins)))
        tail = max(bins)
        for r in grp:
            assert 1 <= r.occupancy <= _PACK_CTX
            if r.bin < tail:
                assert r.occupancy == _PACK_CTX, (split, r.bin)
        assert sum(r.occupancy for r in grp) == tok_by_split[split]


def test_cdc_chunking_insertion_robust(spark):
    """The CDC property that aligned windows lack: inserting one
    token near the start of a doc leaves every chunk AFTER the next
    content boundary identical, so the copy still collapses against
    the original beyond the edit point — while its aligned 4-token
    windows would all re-phase. Also: chunks partition the token
    stream (Σ n_toks = doc token count) and identical docs collapse
    entirely."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    edited = "INSERTED " + base
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)],
        "doc_id long, text string")
    rows = DD.cdc_chunk_dedup(docs, n_buckets=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # chunks partition each doc's token stream
    for d, grp in by_doc.items():
        n_tok = len((base if d < 3 else edited).split())
        assert sum(r.n_toks for r in grp) == n_tok
    # identical doc: every chunk a dup of doc 1
    assert all(r.is_dup for r in by_doc[2])
    # edited doc: everything after the first content boundary dedups
    texts1 = {r.chunk_text for r in by_doc[1]}
    dup3 = [r for r in by_doc[3] if r.chunk_text in texts1]
    assert dup3, "no shared chunk survived the insertion"
    assert all(r.is_dup for r in dup3)
    # and the shared suffix is most of the doc
    shared_toks = sum(r.n_toks for r in dup3)
    assert shared_toks >= len(base.split()) // 2


def test_strided_spans_catch_phase_shifted_dups(spark):
    """Stride-2 windows catch a passage duplicated at an odd aligned
    offset that the non-overlapping grid misses: doc 2 repeats doc
    1's 4-token passage shifted by one leading token, so aligned
    spans share nothing while strided spans flag the copy. Default
    stride=span_w stays exactly the old aligned semantics."""
    docs = spark.createDataFrame(
        [(1, "p q r s a b c d"),           # passage 'a b c d' at 4
         (2, "x a b c d m n o p")],        # same passage at offset 1
        "doc_id long, text string")
    aligned = DD.cross_doc_span_dedup(docs, span_w=4).collect()
    assert not any(r.is_dup for r in aligned)          # grid miss
    strided = DD.cross_doc_span_dedup(docs, span_w=4, stride=1).collect()
    dups = [r for r in strided if r.is_dup]
    assert dups and all(r.doc_id == 2 for r in dups)
    assert any(r.span == "a b c d" for r in dups)
    # stride=span_w ≡ the original aligned semantics
    agg = DD.cross_doc_span_dedup(docs, span_w=4, stride=4).collect()
    assert sorted(map(tuple, agg)) == sorted(map(tuple, aligned))


def test_quality_cut_threshold_semantics(spark):
    """The P25 cut: kept fractions are in [0,1], the corpus-wide
    kept count is ≥ 75% of docs (P25 ⇒ at most a quarter drops),
    every source shares ONE global threshold, and the plan computes
    it as a broadcast scalar (no Window, no Sort of the corpus)."""
    from picoprobedataflow_spark.plans.pipeline import \
        quality_percentile_cut

    df = quality_percentile_cut(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = df.collect()
    assert len({r.thr_q for r in rows}) == 1       # one global cut
    n, k = sum(r.n_docs for r in rows), sum(r.n_kept for r in rows)
    assert k >= 0.75 * n - 1
    for r in rows:
        assert 0.0 <= r.kept_ratio <= 1.0
        assert r.n_kept <= r.n_docs


def test_winnow_fingerprint_guarantee_and_density(spark):
    """Winnowing (MOSS): (a) any shared token run of >= w+k-1 tokens
    yields a shared fingerprint even under position shift; (b) short
    docs (< w+k-1 tokens) select nothing; (c) the selected set is a
    small fraction of the full gram-hash set; (d) pure function of
    text — recompute under different partitioning matches."""
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "aa bb " + shared + " cc dd"),
         (2, "zz " + shared),
         (3, "one two three four five"),   # 5 tokens < w+k-1 = 6
         (4, "completely different words here and there again now")],
        "doc_id long, text string")
    out = DD.winnow_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]                  # coverage guarantee
    assert 3 not in by_doc                        # too short
    assert not (by_doc.get(4, set()) & by_doc[1])
    # density: far fewer selections than grams (13-token doc 1 has 11
    # grams -> 8 windows; expected ~2/(w+1) of hashes selected)
    assert len(by_doc[1]) < 11
    again = {(r.doc_id, r.pos, r.fp) for r in DD.winnow_fingerprints(
        docs.repartition(7), k=3, w=4).collect()}
    assert again == {(r.doc_id, r.pos, r.fp) for r in out}


def test_dup_stats_family_accounting(spark):
    """Per-source dup telemetry is self-consistent and sums to the
    exact-dedup suite's corpus totals."""
    from picoprobedataflow_spark.plans import pipeline as PL

    rows = [r for r in PL.corpus_group_stats(
        spark, "/root/testdata/sf0.01").collect()
        if r.family == "dup_stats"]
    assert rows
    for r in rows:
        n, nd, ndup = r.n, r.total_words, r.total_chars
        assert 0 < nd <= n and ndup == n - nd
        assert abs(r.mean_words - (1.0 - nd / n)) < 1e-6
    total_distinct = sum(r.total_words for r in rows)
    exact = PL.dedup_exact_groups(spark, "/root/testdata/sf0.01") \
        .filter(F.col("family") == "groups").count()
    # per-source distinct >= corpus-wide distinct (the same text in
    # two sources counts once corpus-wide)
    assert total_distinct >= exact


def test_ppl_bucket_quartile_semantics(spark):
    """CCNet head/middle/tail bucketing at sf0.01: roughly a quarter
    of docs land in head (score ≥ P75) and tail (score < P25), head
    scores strictly dominate middle dominate tail, every doc gets
    exactly one bucket, and the plan has no Window / corpus Sort
    (thresholds are broadcast scalars)."""
    from picoprobedataflow_spark.plans.pipeline import \
        ppl_bucket_assignments

    df = ppl_bucket_assignments(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    rows = df.collect()
    n = len(rows)
    by_b = {}
    for r in rows:
        by_b.setdefault(r.bucket, []).append(r.avg_logprob)
    assert set(by_b) == {"head", "middle", "tail"}
    # quartile cuts: head and tail each ~25% (interpolated threshold
    # can shift membership by a couple of docs)
    assert abs(len(by_b["head"]) - n / 4) <= 3
    assert abs(len(by_b["tail"]) - n / 4) <= 3
    assert min(by_b["head"]) >= max(by_b["middle"])
    assert min(by_b["middle"]) >= max(by_b["tail"])


def _bpe_ref(words: dict[str, int], n_merges: int):
    """Pure-Python list-of-symbols BPE reference: positional pair
    counts (overlaps counted), argmax tie-broken on the WRAPPED pair
    string ascending, merges applied by a left-to-right
    non-overlapping scan — the true Sennrich semantics the
    string-replace Spark encoding must reproduce exactly."""
    vocab = [([c for c in w], cnt) for w, cnt in words.items()]
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple, int] = {}
        for s, cnt in vocab:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:     # corpus exhausted: fewer merges than asked
            break
        best = min(counts.items(),
                   key=lambda kv: (-kv[1], f"<{kv[0][0]}><{kv[0][1]}>"))
        (a, b), c = best
        merges.append((step, f"<{a}><{b}>", c))
        new_vocab = []
        for s, cnt in vocab:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new_vocab.append((out, cnt))
        vocab = new_vocab
    finals = sorted(("".join(f"<{x}>" for x in s), cnt)
                    for s, cnt in vocab)
    return merges, finals


def test_bpe_train_matches_reference_loop(spark):
    """Distributed BPE training ≡ the list-of-symbols reference on
    the classic Sennrich corpus: same merges in the same order with
    the same weighted counts, and the same final symbolization of
    every word — which proves the delimiter-wrapped string-replace
    merge implements true left-to-right non-overlapping list
    semantics (including overlap counting in the pair stats)."""
    from picoprobedataflow_spark.operators import bpe as BPE

    words = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    wf = spark.createDataFrame(list(words.items()), "word string, w long")
    merges_df, syms_df = BPE.bpe_train(wf, 4)
    got_merges = [(r.step, r.pair, r.cnt)
                  for r in merges_df.orderBy("step").collect()]
    got_syms = sorted((r.sym, r.w) for r in syms_df.collect())
    exp_merges, exp_syms = _bpe_ref(words, 4)
    assert got_merges == exp_merges
    assert got_syms == exp_syms


def test_bpe_merge_never_false_matches_inside_symbols(spark):
    """The delimiter wrapping must prevent a merge pattern from
    matching a SUFFIX of a longer symbol: after 'x a' merges to 'xa',
    a later 'a b' merge must not fire inside '<xa><b>'. Corpus built
    so 'xa' merges first, then 'ab' — the reference loop agrees only
    if the wrapped replace respects symbol boundaries."""
    from picoprobedataflow_spark.operators import bpe as BPE

    words = {"xab": 10, "ab": 3}  # 'x a' count 10 beats 'a b' count 13? no:
    # pairs: xab -> (x,a)=10, (a,b)=10; ab -> (a,b)=3  => 'a b'=13 first,
    # then 'x ab'=10. After merge 1 the word 'xab' is <x><ab> — merge 2
    # must see pair (x, ab), never a phantom (xa, b).
    wf = spark.createDataFrame(list(words.items()), "word string, w long")
    merges_df, syms_df = BPE.bpe_train(wf, 2)
    got = [(r.step, r.pair, r.cnt)
           for r in merges_df.orderBy("step").collect()]
    exp_merges, exp_syms = _bpe_ref(words, 2)
    assert got == exp_merges == [(1, "<a><b>", 13), (2, "<x><ab>", 10)]
    assert sorted((r.sym, r.w) for r in syms_df.collect()) == exp_syms


def test_bpe_overlapping_pairs_count_positionally_merge_nonoverlap(spark):
    """'aaaa' holds three positional (a,a) pairs but only two
    non-overlapping merges — the convention split both engines must
    share: counts are positional, replaces are left-to-right
    non-overlapping ('<a><a><a><a>' -> '<aa><aa>',
    '<a><a><a>' -> '<aa><a>')."""
    from picoprobedataflow_spark.operators import bpe as BPE

    words = {"aaaa": 1, "aaa": 1}
    wf = spark.createDataFrame(list(words.items()), "word string, w long")
    merges_df, syms_df = BPE.bpe_train(wf, 1)
    [(step, pair, cnt)] = [(r.step, r.pair, r.cnt)
                           for r in merges_df.collect()]
    assert (step, pair, cnt) == (1, "<a><a>", 5)  # 3 + 2 positional
    assert sorted(r.sym for r in syms_df.collect()) == \
        ["<aa><a>", "<aa><aa>"]


def test_knn_graph_is_blockwise_topk(spark):
    """block_knn_graph edges are exactly the per-source top-k among
    co-blocked vectors under (rounded-cosine DESC, dst ASC): verified
    against a brute-force per-block ranking in Python on a crafted
    two-block corpus; no edge ever crosses blocks."""
    rows = [
        (1, [1.0, 0.0], "A"), (2, [0.9, 0.1], "A"),
        (3, [0.0, 1.0], "A"), (4, [0.5, 0.5], "A"),
        (5, [1.0, 1.0], "B"), (6, [-1.0, 1.0], "B"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket string")
    got = {(r.src, r.dst, r.rk): r.cosine
           for r in SIM.block_knn_graph(emb, k=2).collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * \
              (sum(y * y for y in b) ** 0.5)
        return round(num / den, 6)

    exp = {}
    for src, va, blk in rows:
        cands = sorted(((-cos(va, vb), dst) for dst, vb, b2 in rows
                        if b2 == blk and dst != src))
        for rk, (negc, dst) in enumerate(cands[:2], start=1):
            exp[(src, dst, rk)] = -negc
    assert got == exp
    # every edge is intra-block
    blocks = {vid: b for vid, _, b in rows}
    assert all(blocks[s] == blocks[d] for s, d, _ in got)


def test_bpe_subword_counts_match_reference_segmentation(spark):
    """subword_counts maps every vocabulary word to the symbol count
    of its reference segmentation, and the per-doc encode aggregate
    is exactly Σ n_sym over the doc's words."""
    from picoprobedataflow_spark.operators import bpe as BPE

    words = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    wf = spark.createDataFrame(list(words.items()), "word string, w long")
    _, syms = BPE.bpe_train(wf, 4)
    got = {r.word: r.n_sym for r in BPE.subword_counts(syms).collect()}
    _, exp_syms = _bpe_ref(words, 4)
    exp_w = {}
    for sym, cnt in exp_syms:
        word = sym.replace("<", "").replace(">", "")
        exp_w[word] = sym.count("<")
    assert got == exp_w


@given(st.dictionaries(st.text(alphabet="abcd", min_size=1, max_size=6),
                       st.integers(1, 9), min_size=1, max_size=8),
       st.integers(1, 3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_property_matches_reference(spark, words, n_merges):
    """Property: on arbitrary small corpora (duplicate-pair-heavy
    alphabet to stress overlap and tie-break paths), distributed BPE
    training reproduces the list-of-symbols reference exactly —
    merges, counts, and every word's final segmentation."""
    from picoprobedataflow_spark.operators import bpe as BPE

    wf = spark.createDataFrame(list(words.items()), "word string, w long")
    merges_df, syms_df = BPE.bpe_train(wf, n_merges)
    got_merges = [(r.step, r.pair, r.cnt)
                  for r in merges_df.orderBy("step").collect()]
    got_syms = sorted((r.sym, r.w) for r in syms_df.collect())
    exp_merges, exp_syms = _bpe_ref(words, n_merges)
    # a corpus with fewer available merges than asked yields fewer
    # merge rows on both sides (sentinel no-op path) and the
    # vocabulary must survive unchanged — never come back empty.
    assert got_merges == exp_merges
    assert got_syms == exp_syms


def test_mutual_knn_edges_drop_unreciprocated(spark):
    """Reciprocity filter: a directed edge survives only when its
    reverse exists, and each mutual pair is emitted once (src < dst).
    The hub→outlier asymmetry — outlier's top-k reaches the hub, hub's
    top-k never reaches back — must disappear."""
    knn = spark.createDataFrame(
        [(1, 2), (2, 1),        # mutual
         (3, 1),                # outlier 3 reaches hub 1...
         (1, 4), (4, 1),        # mutual
         (5, 6)],               # one-directional
        "src long, dst long")
    got = sorted((r.src, r.dst)
                 for r in SIM.mutual_knn_edges(knn).collect())
    assert got == [(1, 2), (1, 4)]


def test_centroid_outlier_scores_flags_off_manifold_vector(spark):
    """A vector pointing AWAY from the corpus mass scores negative
    cosine to the centroid and is pruned; on-manifold vectors keep.
    The score is shuffle-free after one 64-row dim aggregate."""
    on = [(i, [1.0, 1.0] + [0.0] * 62) for i in range(10)]
    off = [(99, [-5.0, -5.0] + [0.0] * 62)]
    emb = spark.createDataFrame(on + off,
                                "vec_id long, embedding array<float>")
    rows = {r.vec_id: r
            for r in SIM.centroid_outlier_scores(
                emb, threshold=-0.15).collect()}
    assert rows[99].keep is False and rows[99].centroid_cos < -0.9
    for i in range(10):
        assert rows[i].keep is True and rows[i].centroid_cos > 0.9
    # deterministic: recompute matches
    again = {r.vec_id: r.centroid_cos
             for r in SIM.centroid_outlier_scores(
                 emb, threshold=-0.15).collect()}
    assert again == {k: v.centroid_cos for k, v in rows.items()}


def test_mutual_knn_clusters_are_components_with_sizes(spark):
    """The pipeline family at sf0.001: every comp is the min vec_id
    of its members, sizes are consistent, membership is closed under
    the mutual edge set, and only clustered vectors appear."""
    from picoprobedataflow_spark.operators import dedup as DD

    sf = "/root/testdata/sf0.001"
    rows = PL._embedding_mutual_knn_clusters(spark, sf).collect()
    assert rows
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.comp, []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m.vec_id for m in members)
        assert all(m.comp_size == len(members) for m in members)
    mutual = {tuple(sorted((r.src, r.dst))) for r in SIM.mutual_knn_edges(
        PL._embedding_knn_graph(spark, sf)).collect()}
    label = {r.vec_id: r.comp for r in rows}
    # closure: both endpoints of every mutual edge share a component
    for a, b in mutual:
        assert label[a] == label[b]
    # exactly the clustered vectors appear
    assert set(label) == {v for e in mutual for v in e}


def test_bigram_logprob_hand_math(spark):
    """Add-one bigram LM on a 2-doc corpus, checked against a
    hand-rolled Python model: P(b|a) = (C(a,b)+1)/(C(a)+V_ctx),
    per-doc score = mean bigram log-prob."""
    import math

    from picoprobedataflow_spark.functions import text as TX

    texts = {1: "a b a b c", 2: "b a b"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logprob)
           for r in TX.bigram_logprob(docs).collect()}

    big, ctx = {}, {}
    doc_bis = {}
    for d, t in texts.items():
        w = t.split()
        bis = list(zip(w, w[1:]))
        doc_bis[d] = bis
        for a, b in bis:
            big[(a, b)] = big.get((a, b), 0) + 1
            ctx[a] = ctx.get(a, 0) + 1
    V = len(ctx)
    for d, bis in doc_bis.items():
        lp = sum(math.log((big[p] + 1.0) / (ctx[p[0]] + V)) for p in bis)
        n, avg = got[d]
        assert n == len(bis)
        assert abs(avg - lp / len(bis)) < 1e-9


def test_hard_negatives_exclude_same_label(spark):
    """With exclude_col set, every ranked neighbor has a different
    label, and ranking is the top-k among different-label co-blocked
    candidates only (a same-label nearer vector must not consume a
    rank slot)."""
    rows = [
        (1, [1.0, 0.0], "A", 0),
        (2, [0.99, 0.1], "A", 0),   # nearest to 1 but SAME label
        (3, [0.9, 0.2], "A", 1),    # nearest different-label
        (4, [0.0, 1.0], "A", 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket string,"
              " label int")
    got = [(r.src, r.dst, r.rk) for r in
           SIM.block_knn_graph(emb, k=1, exclude_col="label")
           .collect()]
    labels = {v: l for v, _, _, l in rows}
    assert all(labels[s] != labels[d] for s, d, _ in got)
    assert (1, 3, 1) in got       # not (1, 2, 1)


def test_dq_metrics_flag_dirty_data(spark):
    """The declarative data-quality gate on a deliberately dirty
    batch: null props, duplicate event_id, out-of-domain type and
    out-of-range value each fail exactly their own check with the
    correct metric; a clean batch passes all four."""
    from picoprobedataflow_spark.plans.telemetry import dq_metrics

    dirty = spark.createDataFrame(
        [(1, "click", 5.0, "{}"),
         (1, "view", 10.0, None),          # dup id + null props
         (2, "bogus", -3.0, "{}"),         # bad domain + bad range
         (3, "purchase", 20.0, "{}")],
        "event_id long, event_type string, value double, props string")
    rows = {r.k: r for r in dq_metrics(dirty).collect()}
    assert rows["completeness_props"].v2 == 0.0
    assert abs(rows["completeness_props"].v1 - 0.75) < 1e-9
    assert rows["uniqueness_event_id"].v2 == 0.0
    assert abs(rows["uniqueness_event_id"].v1 - 0.75) < 1e-9
    assert rows["domain_event_type"].v2 == 0.0
    assert rows["range_value"].v2 == 0.0
    assert all(r.n == 4 for r in rows.values())

    clean = spark.createDataFrame(
        [(1, "click", 5.0, "{}"), (2, "view", 10.0, "{}")],
        "event_id long, event_type string, value double, props string")
    assert all(r.v2 == 1.0 for r in dq_metrics(clean).collect())


def test_url_canonicalization_edges(spark):
    """URL canonicalization: case-folds scheme/host but preserves
    path case, strips www./default ports/fragments/tracking params/
    trailing slashes, keeps real params in order, and maps distinct
    messy spellings of the same page to ONE canonical key."""
    from picoprobedataflow_spark.functions.scalar import (
        url_canonical, url_domain, url_host)

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&id=1#f",
         "https://example.com/A/B?id=1"),
        ("https://example.com/A/B?id=1",
         "https://example.com/A/B?id=1"),        # already canonical
        ("http://example.com:80/", "http://example.com/"),
        ("https://sub.Example.com/p?a=1&utm_b=2&c=3&ref=r",
         "https://sub.example.com/p?a=1&c=3"),
        ("https://example.com/x/?fbclid=abc", "https://example.com/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(url_canonical("url")).collect()]
    assert got == [want for _, want in cases]
    # the first two rows are the SAME page -> same dedup key
    assert got[0] == got[1]
    hosts = [r[0] for r in df.select(url_host("url")).collect()]
    assert hosts[3] == "sub.example.com"
    doms = [r[0] for r in df.select(url_domain("url")).collect()]
    assert set(doms) == {"example.com"}


def test_html_to_text_strips_boilerplate_and_tags(spark):
    """HTML extraction: head/nav/footer vanish WITH content, body
    text survives with whitespace collapsed, tag count measures the
    raw markup, and tag-free text passes through unchanged."""
    from picoprobedataflow_spark.functions.text import (
        html_tag_count, html_to_text)

    rows = spark.createDataFrame([
        (1, "<html><head><title>T</title></head><body>"
            "<nav>Home | About</nav><p>real   content</p>"
            "<footer>(c)</footer></body></html>"),
        (2, "plain text, no markup"),
        (3, "<body><div>a</div><div>b</div></body>"),
    ], "i long, h string").select(
        "i", html_to_text("h").alias("t"),
        html_tag_count("h").alias("n")).collect()
    got = {r.i: (r.t, r.n) for r in rows}
    assert got[1] == ("real content", 14)
    assert got[2] == ("plain text, no markup", 0)
    assert got[3] == ("a b", 6)


def test_quality_survivors_keep_best_not_first(spark):
    """Quality-aware survivor policy: the highest-quality cluster
    member wins regardless of id order (id ascending breaks ties),
    singletons are their own best, and exactly one best per
    cluster."""
    docs = spark.createDataFrame(
        [(1, "x!!!"),                                  # junk
         (2, "the quick brown fox is a fine animal and the dog "
             "sleeps in the sun all day long"),        # clean
         (3, "mid text of a sort"),
         (7, "solo document standing alone")],
        "doc_id long, text string")
    edges = spark.createDataFrame([(1, 2), (2, 3)],
                                  "doc_a long, doc_b long")
    from picoprobedataflow_spark.functions.text import quality_score

    surv = DD.near_dup_survivors(docs, edges)
    qb = F.round(quality_score("text") * 1e6, 0).cast("long")
    best = {r.canonical_id: r.best_id
            for r in DD.quality_survivors(docs, surv, qb).collect()}
    assert best[1] == 2        # min-id keeps 1; quality keeps 2
    assert best[7] == 7
    assert len(best) == 2


def test_minhash_lsh_recall_s_curve(spark):
    """Measured LSH quality on a crafted controlled-overlap corpus:
    with 16 hashes in 4x4 bands the s-curve predicts capture
    probability 1-(1-j^4)^4 — near-identical pairs (shingle jaccard
    >= 0.8) must be recalled at >= 75%, while far pairs
    (j < 0.2) are candidates at < 30%: the banding is doing
    selection, not passing everything through."""
    base = [[f"w{i}_{j}" for j in range(60)] for i in range(30)]
    rows = []
    for i, toks in enumerate(base):
        rows.append((i * 10, " ".join(toks)))
        near = list(toks)
        near[20] = "XX"                      # ~3 shingles differ
        rows.append((i * 10 + 1, " ".join(near)))
        far = list(toks)
        for p in range(0, 60, 4):            # heavy mutation
            far[p] = f"Y{p}"
        rows.append((i * 10 + 2, " ".join(far)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = DD.shingle_table(docs, k=3).localCheckpoint(eager=True)
    truth = {(r.doc_a, r.doc_b): r.jaccard
             for r in DD.jaccard_pairs(docs, k=3, threshold=0.01,
                                       shingles=sh).collect()}
    sigs = DD.minhash_signatures(docs, num_hashes=16, k=3, shingles=sh)
    cand = {(r.doc_a, r.doc_b)
            for r in DD.lsh_candidate_pairs(sigs, band_size=4).collect()}
    high = [p for p, j in truth.items() if j >= 0.8]
    low = [p for p, j in truth.items() if j < 0.2]
    assert len(high) >= 25 and len(low) >= 25   # both bands populated
    recall_high = sum(p in cand for p in high) / len(high)
    rate_low = sum(p in cand for p in low) / len(low)
    assert recall_high >= 0.75, recall_high
    assert rate_low < 0.3, rate_low


def test_rrf_fusion_semantics(spark):
    """RRF at sf0.01: the fused list is ordered by rrf desc with
    doc_id tie-break; every fused score equals the recomputed
    1/(60+lex)+1/(60+vec) from the row's own ranks; docs in BOTH
    lists outrank docs with a comparable single-list rank (the
    fusion effect); ranks are unique within each list."""
    from picoprobedataflow_spark.plans.pipeline import (
        _RRF_K, rrf_hybrid_retrieval)

    rows = rrf_hybrid_retrieval(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 10
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        want = 0.0
        if r.lex_rank is not None:
            want += 1.0 / (_RRF_K + r.lex_rank)
        if r.vec_rank is not None:
            want += 1.0 / (_RRF_K + r.vec_rank)
        assert abs(r.rrf - round(want, 6)) < 1e-9, r
    both = [r for r in rows
            if r.lex_rank is not None and r.vec_rank is not None]
    single = [r for r in rows
              if r.lex_rank is None or r.vec_rank is None]
    if both and single:
        assert max(r.rrf for r in both) > max(r.rrf for r in single)
    lex = [r.lex_rank for r in rows if r.lex_rank is not None]
    vec = [r.vec_rank for r in rows if r.vec_rank is not None]
    assert len(lex) == len(set(lex)) and len(vec) == len(set(vec))


def _winnow_ref(tokens, k=3, w=4):
    """Pure-Python winnowing reference: md5-prefix gram hashes,
    per-window min with LEFTMOST tie-break, deduped selections."""
    import hashlib

    grams = [" ".join(tokens[i:i + k])
             for i in range(len(tokens) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
          for g in grams]
    out = set()
    for s in range(len(hs) - w + 1):
        win = hs[s:s + w]
        m = min(win)
        out.add((s + win.index(m) + 1, m))
    return out


@given(st.lists(st.sampled_from("abcdef"), min_size=1, max_size=40))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_winnow_matches_python_reference(spark, letters):
    """Property: Spark winnowing equals the pure-Python reference on
    arbitrary token streams — including heavy hash ties from a tiny
    alphabet (the tie-break path) and too-short docs."""
    tokens = list(letters)
    docs = spark.createDataFrame([(0, " ".join(tokens))],
                                 "doc_id long, text string")
    got = {(r.pos, r.fp)
           for r in DD.winnow_fingerprints(docs, k=3, w=4).collect()}
    assert got == _winnow_ref(tokens)


def test_winnow_pairs_find_shared_passages(spark):
    """Partial-overlap candidates from winnowed fingerprints: two
    docs sharing a long passage at different offsets pair up with
    n_shared >= 2; unrelated docs never pair; per-doc repeats of the
    same fingerprint count once (the DISTINCT before the join)."""
    shared = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, "aa bb cc " + shared),
         (2, shared + " zz yy"),
         (3, " ".join(f"u{i}" for i in range(25))),
         (4, "rep " * 30)],         # internal repetition only
        "doc_id long, text string")
    sel = DD.winnow_fingerprints(docs, k=3, w=4) \
            .select("doc_id", "fp").distinct()
    a, b = sel.alias("a"), sel.alias("b")
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in
             (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("n_shared"))
              .filter(F.col("n_shared") >= 2)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p or 4 in p for p in pairs)


def test_mrl_truncation_overlap_monotone(spark):
    """Matryoshka truncation at sf0.01: each truncated list has 10
    unique ranked rows, the full-dim (64) list equals brute-force
    topk_cosine, and overlap with the full list does not decrease
    when going from 16 -> 32 dims ... the quality-vs-cost curve the
    family exists to measure."""
    from picoprobedataflow_spark.plans.pipeline import \
        _embedding_mrl_truncation

    rows = _embedding_mrl_truncation(
        spark, "/root/testdata/sf0.01").collect()
    by_d = {}
    for r in rows:
        by_d.setdefault(r.trunc_dim, []).append(r)
    assert set(by_d) == {16, 32, 64}
    for d, rs in by_d.items():
        assert sorted(r.rk for r in rs) == list(range(1, 11)), d
        assert len({r.vec_id for r in rs}) == 10
    full = {r.vec_id for r in by_d[64]}
    o16 = len({r.vec_id for r in by_d[16]} & full)
    o32 = len({r.vec_id for r in by_d[32]} & full)
    assert o16 <= o32 <= 10


def test_ivf_search_reuses_persisted_index(spark, tmp_path):
    """Index amortization: build the coarse quantizer once, persist
    the (cell, centroid) table as parquet, reload and search with
    cents_df= — results identical to the inline-build path, and the
    reused path runs NO Lloyd's build (its plan never aggregates
    the posexploded corpus)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).head().embedding]
    inline = SIM.ivf_kmeans_search(emb, q, k=5).collect()

    cents = SIM.kmeans_centroids(emb, n_clusters=8, n_iter=2)
    p = str(tmp_path / "ivf_index")
    cents.write.parquet(p)
    reloaded = spark.read.parquet(p)
    reused = SIM.ivf_kmeans_search(emb, q, k=5, cents_df=reloaded)
    assert reused.collect() == inline
    plan = reused._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan.lower()


def test_ivf_index_append_equals_rebuild_and_prunes(spark, tmp_path):
    """Incremental index maintenance: building the cell-partitioned
    layout on a base corpus and APPENDING a new batch under the same
    frozen quantizer yields exactly the rows of a from-scratch build
    on the union corpus; the appended files land ONLY in the batch's
    own cell partitions (work ∝ |batch|); and the serving query over
    the persisted layout partition-prunes, never rebuilds (no
    posexplode in its plan), and reproduces the in-memory probe."""
    import os

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    cents = SIM.kmeans_centroids(base, n_clusters=8, n_iter=2)

    inc_path = str(tmp_path / "ivf_inc")
    cent_rows = SIM.ivf_index_write(base, cents, inc_path)
    before = {d: len(os.listdir(os.path.join(inc_path, d)))
              for d in os.listdir(inc_path) if d.startswith("cell=")}
    SIM.ivf_index_append(batch, cent_rows, inc_path)
    after = {d: len(os.listdir(os.path.join(inc_path, d)))
             for d in os.listdir(inc_path) if d.startswith("cell=")}

    full_path = str(tmp_path / "ivf_full")
    SIM.ivf_index_write(emb, cents, full_path)

    key = lambda r: r.vec_id  # noqa: E731
    inc_rows = sorted(spark.read.parquet(inc_path)
                      .select("vec_id", "cell").collect(), key=key)
    full_rows = sorted(spark.read.parquet(full_path)
                       .select("vec_id", "cell").collect(), key=key)
    assert inc_rows == full_rows and len(inc_rows) == emb.count()

    # Append touched only the batch's own cells.
    batch_cells = {
        r.cell
        for r in SIM.assign_cells(batch, cent_rows, "embedding")
        .select("cell").distinct().collect()}
    grown = {int(d.split("=")[1]) for d in after
             if after[d] > before.get(d, 0)}
    assert grown == batch_cells

    # Serving: persisted-layout search ≡ in-memory probe over the
    # union corpus, partition-pruned, no Lloyd's build in the plan.
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).head().embedding]
    index = spark.read.parquet(inc_path)
    served = SIM.ivf_index_search(index, cent_rows, q, k=5, n_probe=2)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan.lower()
    seg = plan.split("PartitionFilters")[1][:200]
    assert "cell" in seg, plan
    twin = SIM.ivf_index_search(
        SIM.assign_cells(emb, cent_rows, "embedding"),
        cent_rows, q, k=5, n_probe=2)
    assert served.collect() == twin.collect()


def test_leakage_audit_cluster_split_vs_doc_hash_split(spark):
    """The measurable claim behind the leakage-safe split, at
    sf0.01: under a naive per-DOC hash split, some near-dup pairs
    straddle the train/eval boundary; under the per-CLUSTER split,
    straddles are zero by construction."""
    from picoprobedataflow_spark.plans.pipeline import (
        _spark_candidate_pairs, dedup_cluster_survivors)

    sf = "/root/testdata/sf0.01"
    pairs = (_spark_candidate_pairs(spark, sf)
             .filter(F.col("doc_b").isNotNull())
             .select("doc_a", "doc_b").distinct())
    surv = dedup_cluster_survivors(spark, sf)
    cluster_split = {r.doc_id: r.split for r in surv.collect()}

    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("lsplit:"),
                       F.col("doc_id").cast("string")).cast("binary")),
        1, 8), 16, 10).cast("long") % 100)
    doc_split_df = surv.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val")
         .otherwise("test").alias("split"))
    doc_split = {r.doc_id: r.split for r in doc_split_df.collect()}

    ps = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert ps
    cluster_straddles = sum(
        cluster_split[a] != cluster_split[b] for a, b in ps)
    doc_straddles = sum(doc_split[a] != doc_split[b] for a, b in ps)
    assert cluster_straddles == 0
    assert doc_straddles > 0        # the leakage the split prevents


def test_remove_duplicate_spans_reassembly(spark):
    """Span removal: the second copy of a shared passage vanishes,
    first occurrences and tails survive in order, short docs pass
    through untouched, and token accounting is consistent."""
    p = "p1 p2 p3 p4 p5 p6 p7 p8"        # two aligned 4-token spans
    docs = spark.createDataFrame(
        [(1, p + " u1 u2 u3 u4 t1 t2"),  # original + unique + tail
         (2, p + " v1 v2 v3 v4"),        # repeats both spans of doc 1
         (3, "short doc")],              # < span_w: untouched
        "doc_id long, text string")
    rows = {r.doc_id: r
            for r in DD.remove_duplicate_spans(docs, span_w=4).collect()}
    assert rows[1].cleaned == p + " u1 u2 u3 u4 t1 t2"
    assert rows[1].n_removed == 0 and rows[1].n_kept == 3
    assert rows[2].cleaned == "v1 v2 v3 v4"
    assert rows[2].n_removed == 2 and rows[2].n_kept == 1
    assert rows[3].cleaned == "short doc"
    assert rows[3].n_removed == 0 and rows[3].n_kept == 0


def test_remove_frequent_segments_boilerplate_rule(spark):
    """Corpus-frequency boilerplate removal vs dedup — the two rules
    are NOT nested per window: a nav-bar span stamped on min_df+
    docs vanishes from EVERY doc (first occurrence included, which
    dedup would keep), while a span repeated twice WITHIN one doc
    has df = 1 and survives boilerplate removal entirely (dedup
    would drop its second copy). Short docs pass through."""
    nav = "b1 b2 b3 b4"                   # stamped on docs 1-3
    rep = "r1 r2 r3 r4"                   # twice inside doc 4 only
    docs = spark.createDataFrame(
        [(1, nav + " u1 u2 u3 u4"),
         (2, nav + " v1 v2 v3 v4 t1"),    # + 1-token tail
         (3, nav),
         (4, rep + " " + rep),
         (5, "short doc")],
        "doc_id long, text string")
    rows = {r.doc_id: r
            for r in DD.remove_frequent_segments(
                docs, span_w=4, min_df=2).collect()}
    assert rows[1].cleaned == "u1 u2 u3 u4"
    assert rows[1].n_removed == 1 and rows[1].n_kept == 1
    assert rows[2].cleaned == "v1 v2 v3 v4 t1"
    assert rows[2].n_removed == 1 and rows[2].n_kept == 1
    assert rows[3].cleaned == ""          # pure boilerplate doc
    assert rows[3].n_removed == 1 and rows[3].n_kept == 0
    # within-doc repetition: df=1, boilerplate rule keeps BOTH copies
    assert rows[4].cleaned == rep + " " + rep
    assert rows[4].n_removed == 0 and rows[4].n_kept == 2
    # ...while dedup drops the second (the non-nesting pin)
    dd = {r.doc_id: r
          for r in DD.remove_duplicate_spans(docs, span_w=4).collect()}
    assert dd[4].cleaned == rep and dd[4].n_removed == 1
    assert rows[5].cleaned == "short doc"
    assert rows[5].n_removed == 0 and rows[5].n_kept == 0


def test_containment_catches_swallowed_doc_jaccard_misses(spark):
    """The asymmetric rule's reason to exist: a short doc quoted
    verbatim inside a much longer one has containment 1.0 but
    Jaccard far below any dedup threshold — containment_pairs flags
    the pair, jaccard_pairs at the same threshold does not; an
    unrelated doc pairs with neither."""
    short = "q1 q2 q3 q4 q5 q6"
    filler = " ".join(f"f{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short),
         (3, "z1 z2 z3 z4 z5")],
        "doc_id long, text string")
    cont = {(r.doc_a, r.doc_b): r for r in DD.containment_pairs(
        docs, k=3, threshold=0.9).collect()}
    assert set(cont) == {(1, 2)}
    r = cont[(1, 2)]
    assert r.containment == 1.0           # all 4 shingles of doc 1
    assert r.n_common == r.n_a == 4
    jac = {(p.doc_a, p.doc_b) for p in DD.jaccard_pairs(
        docs, k=3, threshold=0.9).collect()}
    assert (1, 2) not in jac              # 4/64 shared -> 0.0625


def test_random_project_matches_numpy_model_and_is_linear(spark):
    """JL ±1 projection: values equal the numpy matmul with the same
    deterministic sign matrix, the map is linear
    (P(a+b) = P(a)+P(b)), and the distortion stays inside a loose
    JL envelope on average (norms preserved to first order across a
    sample — the property the 4x compression is bought with)."""
    import numpy as np

    from picoprobedataflow_spark.functions.vectors import (
        random_project, random_sign_matrix)

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((20, 64)).astype("f4")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, e array<float>")
    out = {r.vec_id: np.array(r.p) for r in df.select(
        "vec_id",
        random_project(F.col("e"), 16, 64).alias("p")).collect()}
    g = np.array(random_sign_matrix(16, 64))
    for i, v in enumerate(vecs):
        want = (g @ v.astype("f8")) / np.sqrt(16)
        assert np.allclose(out[i], want, atol=1e-9)
    # linearity through the engine: project(a+b) = P(a) + P(b)
    ab = [(0, [float(x) for x in (vecs[0] + vecs[1])])]
    dfs = spark.createDataFrame(ab, "vec_id long, e array<float>")
    got = np.array(dfs.select(random_project(
        F.col("e"), 16, 64).alias("p")).head().p)
    assert np.allclose(got, out[0] + out[1], atol=1e-6)
    # norm preservation on average (JL first moment; loose band)
    ratios = [float(np.linalg.norm(out[i]) /
                    np.linalg.norm(vecs[i].astype("f8")))
              for i in range(20)]
    assert 0.8 < float(np.mean(ratios)) < 1.2


def test_source_overlap_matrix_counts_and_coefficient(spark):
    """Cross-source overlap: shared distinct windows per unordered
    pair, per-occurrence multiplicity ignored (the distinct), pairs
    with zero overlap absent, pair key ordered lexicographically,
    and the coefficient normalizes by the smaller side."""
    nav = "b1 b2 b3 b4"
    docs = spark.createDataFrame(
        [(1, nav + " a1 a2 a3 a4", "A"),
         (2, nav + " " + nav, "B"),       # nav twice: still 1 distinct
         (3, "c1 c2 c3 c4", "C"),
         (4, nav, "A")],                  # nav again in A: no self-pair
        "doc_id long, text string, source string")
    rows = {r.pair: r for r in DD.source_overlap_matrix(
        docs, span_w=4).collect()}
    # A has {nav, a1..a4} = 2 distinct windows, B {nav} = 1, C {c}
    assert set(rows) == {"A>B"}           # C shares nothing
    r = rows["A>B"]
    assert (r.shared, r.total_a, r.total_b) == (1, 2, 1)
    assert r.overlap == 1.0               # 1 / min(2, 1)


def test_chunk_documents_coverage_and_content_ids(spark):
    """Context-window splitter: with stride <= window every token
    position is covered by at least one chunk, offsets advance by
    the stride, the final chunk is short (n_tok = remainder), an
    identical passage in two docs chunks to the same content md5,
    and a doc shorter than one window yields exactly one chunk."""
    from picoprobedataflow_spark.operators.packing import \
        chunk_documents

    t10 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [(1, t10), (2, "w1 w2 w3 w4 w5 w6 w7 w8"), (3, "a b c")],
        "doc_id long, text string")
    out = chunk_documents(docs, window=8, stride=4)
    rows = sorted(((r.doc_id, r.chunk_idx, r.start_tok, r.n_tok)
                   for r in out.collect()))
    # doc 1 (10 toks): chunks at 0 (8 toks), 4 (6 toks), 8 (2 toks)
    # doc 2 (8 toks):  chunks at 0 (8 toks), 4 (4 toks)
    # doc 3 (3 toks):  one short chunk
    assert rows == [(1, 0, 0, 8), (1, 1, 4, 6), (1, 2, 8, 2),
                    (2, 0, 0, 8), (2, 1, 4, 4),
                    (3, 0, 0, 3)]
    # coverage: union of [start, start+n_tok) spans every position
    for did, n in ((1, 10), (2, 8), (3, 3)):
        covered = set()
        for d, _i, s, k in rows:
            if d == did:
                covered |= set(range(s, s + k))
        assert covered == set(range(n))
    # content identity: the first window of docs 1 and 2 is the
    # same passage -> same md5; doc 3's differs
    md5s = {(r.doc_id, r.chunk_idx): r.chunk_md5
            for r in out.collect()}
    assert md5s[(1, 0)] == md5s[(2, 0)]
    assert md5s[(3, 0)] != md5s[(1, 0)]


def test_winnow_pairs_max_df_drops_hot_fingerprints(spark):
    """The stop-shingle knob on the winnow join: with max_df the
    boilerplate fingerprint shared by every doc stops generating
    pairs, while rare shared passages still do; exact mode (None)
    is a superset."""
    from picoprobedataflow_spark.plans.pipeline import \
        winnow_partial_overlap_pairs

    sf = "/root/testdata/sf0.001"
    exact = {(r.doc_a, r.doc_b)
             for r in winnow_partial_overlap_pairs(spark, sf).collect()}
    capped = {(r.doc_a, r.doc_b)
              for r in winnow_partial_overlap_pairs(
                  spark, sf, max_df=3).collect()}
    assert capped <= exact


def test_funnel_stages_monotone_and_consistent(spark):
    """The curation yield funnel at sf0.01: stage counts decrease
    monotonically, every stage is nonempty, chars shrink with docs,
    and the exact-survivor stage really deduplicates (counts equal
    distinct texts of the quality stage)."""
    from picoprobedataflow_spark.plans import pipeline as PL

    rows = {r.k: r for r in PL.corpus_group_stats(
        spark, "/root/testdata/sf0.01").collect()
        if r.family == "funnel"}
    assert set(rows) == {"raw", "lang_en", "quality",
                         "exact_survivor"}
    order = ["raw", "lang_en", "quality", "exact_survivor"]
    ns = [rows[s].n for s in order]
    cs = [rows[s].total_chars for s in order]
    assert all(a >= b for a, b in zip(ns, ns[1:]))
    assert all(a >= b for a, b in zip(cs, cs[1:]))
    assert ns[-1] > 0
    assert rows["raw"].n == 500


@given(st.integers(0, 1), st.integers(0, 1), st.integers(0, 1),
       st.integers(0, 1), st.integers(0, 2))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_url_canonical_idempotent(spark, up, www, port, frag, track):
    """Canonicalization's defining property: applying it twice
    equals applying it once, across the messy-URL feature grid
    (case, www., default port, fragment, tracking params)."""
    from picoprobedataflow_spark.functions.scalar import url_canonical

    scheme = "HTTPS" if up else "https"
    host = ("WWW." if www else "") + "Example.COM" + \
        (":443" if port else "")
    q = ["id=7", "utm_source=x", "ref=r"][track] if track < 3 else ""
    url = f"{scheme}://{host}/A/b/?{q}" + ("#frag" if frag else "")
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(url_canonical("url").alias("c"))
    twice = once.select(url_canonical("c").alias("c"))
    a, b = once.head().c, twice.head().c
    assert a == b, (url, a, b)


def test_degenerate_inputs_never_break_the_pipeline(spark):
    """Edge corpora a 100 TB crawl WILL contain — empty documents,
    single-doc shards, batches smaller than the cluster count — must
    flow through the dedup/ANN operators without errors and with
    sensible semantics (pinned here so a refactor can't quietly turn
    them into runtime failures)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>")

    # k-means asked for more clusters than vectors: returns one cell
    # per vector, no crash, and downstream semdedup keeps everything.
    cents = SIM.kmeans_centroids(emb, n_clusters=8, n_iter=2)
    assert 1 <= cents.count() <= 3
    verdicts = SIM.semantic_dedup(emb).collect()
    assert sorted((r.vec_id, r.keep) for r in verdicts) == \
        [(0, True), (1, True), (2, True)]

    # Empty-text docs: still get signature rows, and two empty docs
    # are exact duplicates of each other.
    docs = _docs(spark, ["", "a b", ""])
    assert DD.simhash_signatures(docs).count() == 3
    assert {(r.doc_id, r.canonical_id)
            for r in DD.exact_dup_mapping(docs).collect()} == {(2, 0)}

    # Single-doc corpus: empty pair frame with the full schema.
    one = _docs(spark, ["a b c d"])
    jp = DD.jaccard_pairs(one)
    assert jp.count() == 0 and jp.columns == \
        ["doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"]

    # Empty corpus through the LSH pipeline: zero rows, no error.
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert DD.minhash_lsh_dedup(empty).count() == 0

    # Probing more cells than exist scans everything, exactly once.
    cent_rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    idx = SIM.assign_cells(emb, cent_rows, "embedding")
    assert SIM.ivf_index_search(idx, cent_rows, [1.0, 0.0],
                                k=5, n_probe=9).count() == 3


def test_zipf_slope_natural_vs_flat_head(spark):
    """The Zipf diagnostic separates shapes: a geometric frequency
    curve fits slope < 0 with high r2, while a perfectly uniform
    vocabulary (every term once) has zero variance in y and slope
    exactly 0; values match a numpy least-squares model."""
    import numpy as np

    from picoprobedataflow_spark.functions.text import zipf_slope

    # source Z: term t_i appears 2^(7-i) times -> steep clean fit
    zipf_text = " ".join(" ".join([f"t{i}"] * (1 << (7 - i)))
                         for i in range(8))
    flat_text = " ".join(f"u{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, zipf_text, "Z"), (2, flat_text, "U")],
        "doc_id long, text string, source string")
    rows = {r.source: r for r in zipf_slope(docs).collect()}
    assert rows["Z"].n_terms == 8 and rows["U"].n_terms == 50
    # numpy model for Z
    tf = np.array([1 << (7 - i) for i in range(8)], dtype=float)
    x, y = np.log(np.arange(1, 9)), np.log(tf)
    slope = float(((x - x.mean()) * (y - y.mean())).sum()
                  / ((x - x.mean()) ** 2).sum())
    r2 = float(np.corrcoef(x, y)[0, 1] ** 2)
    assert abs(rows["Z"].slope - round(slope, 6)) < 2e-6
    assert abs(rows["Z"].r2 - round(r2, 6)) < 2e-6
    assert rows["Z"].slope < -1.5 and rows["Z"].r2 > 0.9
    assert rows["U"].slope == 0.0        # flat head: no decay at all
    assert rows["U"].r2 == 1.0           # regr_r2 convention at var_y=0


def test_check_expectations_null_semantics_and_uniqueness(spark):
    """Expectations checker: NULL rule evaluations count as
    violations (the unevaluable-is-failed convention), uniqueness
    counts surplus rows, viol_rate is exact, and a passing rule
    reports passed=True with zero violations."""
    from picoprobedataflow_spark.operators.expectations import \
        check_expectations

    df = spark.createDataFrame(
        [(1, 5), (1, None), (2, -3), (3, 10)],
        "k long, v int")
    out = {r.rule: r for r in check_expectations(
        df, {"v_positive": F.col("v") > 0},
        unique_cols=("k",)).collect()}
    r = out["v_positive"]
    # -3 fails, NULL counts as a violation too
    assert (r.n_checked, r.n_violations, r.passed) == (4, 2, False)
    assert r.viol_rate == 0.5
    u = out["unique_k"]
    assert (u.n_violations, u.passed) == (1, False)  # k=1 twice
    ok = {r.rule: r for r in check_expectations(
        df, {"k_positive": F.col("k") > 0}).collect()}
    assert ok["k_positive"].passed and ok["k_positive"].n_violations == 0
    # rule names are interpolated into a stack() expression — reject
    # non-identifiers and the reserved internal alias eagerly
    import pytest as _pytest
    for bad in ("valid-lang", "a b", "x'y", "_n"):
        with _pytest.raises(ValueError):
            check_expectations(df, {bad: F.col("k") > 0})
    # SQL reserved words are fine as rule names (backtick-quoted in
    # the stack expression), and so is a name colliding with a
    # generated alias's PREFIX — only exact duplicates are rejected.
    rw = {r.rule: r for r in check_expectations(
        df, {"select": F.col("k") > 0, "end": F.col("v") > 0,
             "cast": F.lit(True)}).collect()}
    assert rw["select"].passed and rw["end"].n_violations == 2
    assert rw["cast"].passed
    # A rules key that collides with a generated unique_<col> alias
    # would shadow it in the aggregate row — rejected eagerly.
    with _pytest.raises(ValueError):
        check_expectations(df, {"unique_k": F.col("k") > 0},
                           unique_cols=("k",))
    # EMPTY corpus: zero violations, rate 0.0, passed=true — never
    # NULL (sums over zero rows coalesce; a CI gate reads `passed`).
    empty = {r.rule: r for r in check_expectations(
        df.filter(F.lit(False)), {"v_positive": F.col("v") > 0},
        unique_cols=("k",)).collect()}
    for r in empty.values():
        assert (r.n_checked, r.n_violations, r.viol_rate,
                r.passed) == (0, 0, 0.0, True)


def test_key_skew_report_exact_values(spark):
    """Skew report matches hand-computed values on a known key
    distribution: one hot key, exact percentiles over per-key
    counts, skew_ratio = max/mean."""
    from picoprobedataflow_spark.operators.skew import key_skew_report

    rows = [("hot",)] * 8 + [("a",), ("b",), ("c",), ("d",)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, "k", percentile="exact").head()
    assert (r.n_rows, r.n_keys, r.max_rows) == (12, 5, 8)
    # counts = [1,1,1,1,8]: p50 = 1, p99 interpolates toward 8
    assert r.p50 == 1.0 and 7.0 < r.p99 <= 8.0
    assert r.skew_ratio == round(8 / (12 / 5), 6)
    # The approx sketch agrees on this distribution (returns actual
    # data values: p99 = 8, no interpolation) and the non-percentile
    # diagnostics are exact on EVERY route.
    ra = key_skew_report(df, "k", percentile="approx").head()
    assert (ra.n_rows, ra.n_keys, ra.max_rows) == (12, 5, 8)
    assert ra.p50 == 1.0 and ra.p99 == 8.0
    assert ra.skew_ratio == r.skew_ratio
    import pytest as _pytest
    with _pytest.raises(ValueError):
        key_skew_report(df, "k", percentile="tdigest")


def test_key_skew_report_auto_selector(spark, tmp_path):
    """Round-13 percentile="auto" selector, pinned via PLAN SHAPE on
    both sides of the SKEW_EXACT_MAX_BYTES cutover (the same rule
    family as decontaminate_spans' transport and SimHash's
    formulation): a parquet-backed frame (real, tiny size estimate)
    takes the exact percentile; a stat-less in-memory frame (huge
    sentinel) takes the partial-aggregable percentile_approx sketch,
    which never holds the per-key counts on one reducer."""
    from picoprobedataflow_spark.operators import dedup as DD
    from picoprobedataflow_spark.operators.skew import (
        SKEW_EXACT_MAX_BYTES, key_skew_report)

    rows = [("hot",)] * 8 + [("a",), ("b",), ("c",), ("d",)]
    mem = spark.createDataFrame(rows, "k string")
    pq = str(tmp_path / "keys.parquet")
    mem.write.parquet(pq)
    disk = spark.read.parquet(pq)
    counts_disk = disk.groupBy("k").count()
    counts_mem = mem.groupBy("k").count()
    assert DD._plan_size_bytes(counts_disk) <= SKEW_EXACT_MAX_BYTES
    assert DD._plan_size_bytes(counts_mem) > SKEW_EXACT_MAX_BYTES

    def plan(df):
        return (key_skew_report(df, "k")
                ._jdf.queryExecution().optimizedPlan().toString())

    assert "percentile_approx" not in plan(disk)
    assert "percentile_approx" in plan(mem)
    # The salting-decision diagnostics are exact on BOTH routes; the
    # percentiles differ only in interpolation (exact p99 of
    # [1,1,1,1,8] interpolates to 7.72, the sketch returns the data
    # value 8).
    rd, rm = (key_skew_report(d, "k").head() for d in (disk, mem))
    for f in ("n_rows", "n_keys", "max_rows", "skew_ratio", "p50"):
        assert rd[f] == rm[f], f
    assert rd.p99 == 7.72 and rm.p99 == 8


def test_psi_report_matches_numpy_model(spark):
    """PSI drift scoreboard vs a hand-rolled numpy model: reference
    quantile edges (linear interpolation), strictly-below bucketing,
    1e-6 zero clamp, per-bucket psi terms; identical distributions
    give PSI ~ 0 and a shifted snapshot a large positive PSI."""
    import math

    import numpy as np

    from picoprobedataflow_spark.operators.drift import (
        PSI_EPS, psi_report)

    rng_ref = [float(x) for x in range(1, 101)]          # 1..100
    rng_cur = [float(x) + 30.0 for x in range(1, 81)]    # shifted
    ref = spark.createDataFrame([(v,) for v in rng_ref], "v double")
    cur = spark.createDataFrame([(v,) for v in rng_cur], "v double")
    n = 4
    rows = psi_report(ref, cur, "v", n_buckets=n).collect()
    assert [r.bucket for r in rows] == list(range(n))
    # numpy model (type-7 quantiles = np.percentile default)
    edges = np.percentile(np.array(rng_ref), [25, 50, 75])
    def buckets(vals):
        return np.array([(np.array(v) > edges).sum() for v in vals])
    nr = np.bincount(buckets(rng_ref), minlength=n)
    nc = np.bincount(buckets(rng_cur), minlength=n)
    for r in rows:
        assert (r.n_ref, r.n_cur) == (nr[r.bucket], nc[r.bucket])
        p = max(nr[r.bucket] / nr.sum(), PSI_EPS)
        q = max(nc[r.bucket] / nc.sum(), PSI_EPS)
        assert abs(r.psi_term - round((q - p) * math.log(q / p), 6)) \
            <= 1e-6
    psi = sum(r.psi_term for r in rows)
    assert psi > 0.25  # the planted shift is "action needed" drift
    # identical snapshots: every term 0, all buckets equal-population
    same = psi_report(ref, ref, "v", n_buckets=n).collect()
    assert all(r.psi_term == 0.0 and r.n_ref == 25 for r in same)
    # contract: the scoreboard ALWAYS has n rows, even off-support
    far = spark.createDataFrame([(1000.0,)], "v double")
    rows2 = psi_report(ref, far, "v", n_buckets=n).collect()
    assert len(rows2) == n and rows2[n - 1].n_cur == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        psi_report(ref, cur, "v", n_buckets=1)


def test_psi_report_plan_shape(spark):
    """The edges row and totals broadcast (1-row crossJoins); the only
    aggregates are the two bucket counts + the k-bounded edge/total
    rows — no SortMergeJoin anywhere (grid and counts are
    n_buckets-cardinality broadcast joins)."""
    from picoprobedataflow_spark.operators.drift import psi_report

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    from pyspark.sql import functions as F
    base = docs.select(F.length("text").alias("v"))
    plan = (psi_report(base, base, "v", n_buckets=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "CrossJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank vs a hand-rolled numpy power iteration on a graph
    with a dangling node and varying out-degree: exact agreement at
    the operator's rounding, the vector sums to 1 after every
    iteration count, duplicate edges collapse, and n_iter<1 is
    rejected."""
    import numpy as np
    import pytest as _pytest

    from picoprobedataflow_spark.operators.graph import pagerank

    # 0->1, 0->2, 1->2, 2->0, 3 dangling (appears only as dst)
    E = [(0, 1), (0, 2), (1, 2), (2, 0), (1, 3), (0, 1)]  # dup 0->1
    edges = spark.createDataFrame(E, "src long, dst long")
    d, n, it = 0.85, 4, 5
    # numpy model
    uniq = sorted(set(E))
    out = {u: sum(1 for a, _ in uniq if a == u) for u in range(n)}
    pr = np.full(n, 1.0 / n)
    for _ in range(it):
        m = sum(pr[u] for u in range(n) if out[u] == 0)
        new = np.full(n, (1 - d) / n + d * m / n)
        for a, b in uniq:
            new[b] += d * pr[a] / out[a]
        pr = new
    with job_group(spark, "pagerank-jobs") as jobs:
        ranks = pagerank(edges, n_iter=it, damping=d)
    assert jobs() <= PAGERANK_JOBS
    got = {r.node: r for r in ranks.collect()}
    assert set(got) == set(range(n))
    for v in range(n):
        assert got[v].outdeg == out[v]
        assert abs(got[v].pr - round(float(pr[v]), 6)) <= 1e-6
    assert abs(sum(r.pr for r in got.values()) - 1.0) < 1e-5
    # ranking sanity: 2 has two in-links from ranked pages, 3 one
    assert got[2].pr > got[3].pr
    with _pytest.raises(ValueError):
        pagerank(edges, n_iter=0)


def test_pagerank_mass_conserved_with_all_dangling(spark):
    """Degenerate graph where EVERY node with rank is dangling after
    one hop: mass must be redistributed, not leak — the vector sums
    to 1 and every node gets (1-d)/n + d/n... exactly uniform."""
    from picoprobedataflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    rows = pagerank(edges, n_iter=4).collect()
    assert abs(sum(r.pr for r in rows) - 1.0) < 1e-6
    # Total on the EMPTY graph (round-13 review find: 1.0/n_nodes
    # raised ZeroDivisionError at plan-build time): empty typed
    # scoreboard, no crash.
    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, n_iter=2)
    assert out.columns == ["node", "outdeg", "pr"]
    assert out.count() == 0


def test_logreg_train_matches_numpy_gd(spark):
    """Batch-GD logistic regression vs a hand-rolled numpy model:
    identical weights after each iteration count (same zero init,
    same lr, same update), NULL rows excluded, empty corpus returns
    the zero vector (total), n_iter<1 rejected, and predict scores
    are the sigmoid of the learned margin."""
    import math

    import numpy as np
    import pytest as _pytest

    from picoprobedataflow_spark.operators.mlfit import (
        logreg_predict, logreg_train)

    rows = [(0.5, 1.2, 1.0), (-0.3, 0.1, 0.0), (1.5, -0.7, 1.0),
            (-1.1, -0.2, 0.0), (0.2, 0.9, 1.0), (-0.6, 0.4, 0.0)]
    df = spark.createDataFrame(rows, "a double, b double, y double")
    lr, it = 0.7, 4
    w = logreg_train(df, ["a", "b"], "y", n_iter=it, lr=lr)
    # numpy model
    X = np.array([[1.0, a, b] for a, b, _ in rows])
    Y = np.array([y for *_, y in rows])
    wn = np.zeros(3)
    for _ in range(it):
        p = 1.0 / (1.0 + np.exp(-(X @ wn)))
        wn = wn + lr * (X.T @ (Y - p)) / len(rows)
    assert np.allclose(w, wn, atol=1e-9), (w, wn)
    # scores = sigmoid of the margin under the learned weights
    got = (df.select(logreg_predict(df, ["a", "b"], w).alias("s"))
           .collect())
    want = 1.0 / (1.0 + np.exp(-(X @ np.array(w))))
    for g, e in zip(got, want):
        assert abs(g.s - round(float(e), 6)) <= 1e-6
    # NULL rows are excluded from the fit, not crashed on
    df2 = df.unionByName(spark.createDataFrame(
        [(None, 1.0, 1.0), (1.0, None, 0.0), (1.0, 1.0, None)],
        "a double, b double, y double"))
    assert logreg_train(df2, ["a", "b"], "y", n_iter=it, lr=lr) == w
    # empty corpus: zero gradient steps, zero vector, no crash
    empty = spark.createDataFrame([], "a double, b double, y double")
    assert logreg_train(empty, ["a", "b"], "y") == [0.0, 0.0, 0.0]
    with _pytest.raises(ValueError):
        logreg_train(df, ["a", "b"], "y", n_iter=0)
    # bias-less weights vector: rejected, not silently zip-truncated
    with _pytest.raises(ValueError):
        logreg_predict(df, ["a", "b"], w[1:])
    # L2 weight decay: matches the numpy model with the same decay,
    # shrinks the norm vs the unregularized fit, l2=0 is exactly the
    # plain op, negative l2 rejected
    lam = 0.3
    wr = logreg_train(df, ["a", "b"], "y", n_iter=it, lr=lr, l2=lam)
    wn2 = np.zeros(3)
    for _ in range(it):
        p = 1.0 / (1.0 + np.exp(-(X @ wn2)))
        wn2 = wn2 + lr * ((X.T @ (Y - p)) / len(rows) - lam * wn2)
    assert np.allclose(wr, wn2, atol=1e-9)
    assert np.linalg.norm(wr) < np.linalg.norm(w)
    assert logreg_train(df, ["a", "b"], "y", n_iter=it, lr=lr,
                        l2=0.0) == w
    with _pytest.raises(ValueError):
        logreg_train(df, ["a", "b"], "y", l2=-0.1)


def test_incremental_simhash_pairs_equals_full(spark):
    """Incremental hamming pairing invariant: pairs(state) ∪
    incremental(state, new) == pairs(state ∪ new) — every pair
    exactly once, sorted doc_a < doc_b, including state×new pairs
    whose OLD member has the larger id."""
    from picoprobedataflow_spark.operators.dedup import (
        incremental_simhash_pairs, simhash_near_pairs)

    # 8-bit signatures, ids chosen so an old id (9) exceeds new ids
    rows = [(9, 0b10110010), (1, 0b10110011), (2, 0b01001100)]
    new = [(3, 0b10110010), (4, 0b01001101), (5, 0b11111111)]
    state_df = spark.createDataFrame(rows, "doc_id long, simhash long")
    new_df = spark.createDataFrame(new, "doc_id long, simhash long")
    all_df = state_df.unionByName(new_df)
    kw = dict(max_hamming=2, n_chunks=4, bits=8)
    base = {(r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_pairs(state_df, **kw).collect()}
    inc = {(r.doc_a, r.doc_b, r.hamming)
           for r in incremental_simhash_pairs(state_df, new_df,
                                              **kw).collect()}
    full = {(r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_pairs(all_df, **kw).collect()}
    assert base | inc == full
    assert base & inc == set()           # emitted exactly once
    assert (3, 9, 0) in inc              # old id > new id, sorted
    # empty state: incremental == full over the new batch alone
    empty = spark.createDataFrame([], "doc_id long, simhash long")
    inc0 = {(r.doc_a, r.doc_b, r.hamming)
            for r in incremental_simhash_pairs(empty, new_df,
                                               **kw).collect()}
    full0 = {(r.doc_a, r.doc_b, r.hamming)
             for r in simhash_near_pairs(new_df, **kw).collect()}
    assert inc0 == full0


def test_nb_train_predict_matches_hand_model(spark):
    """Multinomial Naive Bayes vs a hand-computed model: llr table,
    prior log-odds and OOV constant all match the add-alpha formulas
    exactly; predict reproduces prior + Σ llr with OOV terms taking
    the smoothed constant, an empty token array scoring exactly the
    prior (NULL explode_outer row contributes 0, not the OOV
    constant), and pred gating on the unrounded score."""
    import math

    import pytest as _pytest

    from picoprobedataflow_spark.operators.mlfit import (
        nb_predict, nb_train)

    al = 0.5
    rows = [(0, ["good", "clean", "good"], 1.0),
            (1, ["good", "text"], 1.0),
            (2, ["spam", "spam", "junk"], 0.0),
            (3, ["junk", "text"], 0.0),
            (4, None, 1.0),          # NULL tokens: excluded from fit
            (5, ["good"], None)]     # NULL label: excluded from fit
    df = spark.createDataFrame(
        rows, "doc_id long, toks array<string>, y double")
    m = nb_train(df, "toks", "y", alpha=al)
    # hand model over the 4 labeled+tokenized docs
    c1 = {"good": 3.0, "clean": 1.0, "text": 1.0}
    c0 = {"spam": 2.0, "junk": 2.0, "text": 1.0}
    vocab = sorted(set(c1) | set(c0))
    t1, t0, v = sum(c1.values()), sum(c0.values()), float(len(vocab))
    want_llr = {t: (math.log((c1.get(t, 0.0) + al) / (t1 + al * v))
                    - math.log((c0.get(t, 0.0) + al) / (t0 + al * v)))
                for t in vocab}
    got_llr = {r.term: r.llr for r in m.llr.collect()}
    assert set(got_llr) == set(want_llr)
    for t in vocab:
        assert abs(got_llr[t] - want_llr[t]) < 1e-12, t
    assert abs(m.prior_logodds
               - math.log((2.0 + al) / (2.0 + al))) < 1e-12
    assert abs(m.oov_llr
               - math.log((t0 + al * v) / (t1 + al * v))) < 1e-12
    # predict: seen terms, one OOV term, empty array, NULL array
    score_df = spark.createDataFrame(
        [(10, ["good", "clean"]),        # positive-leaning
         (11, ["spam", "junk"]),         # negative-leaning
         (12, ["good", "UNSEEN"]),       # one OOV token
         (13, []),                       # empty: exactly the prior
         (14, None)],                    # NULL: exactly the prior
        "doc_id long, toks array<string>")
    got = {r.doc_id: r for r in
           nb_predict(score_df, m, "toks").collect()}
    def want_score(terms):
        return m.prior_logodds + sum(
            want_llr.get(t, m.oov_llr) for t in terms)
    assert abs(got[10].score - round(want_score(["good", "clean"]),
                                     6)) < 1e-9
    assert got[10].pred and got[10].n_tok == 2
    assert abs(got[11].score - round(want_score(["spam", "junk"]),
                                     6)) < 1e-9
    assert not got[11].pred
    assert abs(got[12].score
               - round(want_score(["good", "UNSEEN"]), 6)) < 1e-9
    assert got[12].n_tok == 2
    for empty_id in (13, 14):
        assert got[empty_id].n_tok == 0
        assert abs(got[empty_id].score
                   - round(m.prior_logodds, 6)) < 1e-9
        assert got[empty_id].pred == (m.prior_logodds > 0.0)
    # degenerate: empty corpus is total — neutral model, no crash
    empty = spark.createDataFrame(
        [], "doc_id long, toks array<string>, y double")
    me = nb_train(empty, "toks", "y")
    assert me.prior_logodds == 0.0 and me.oov_llr == 0.0
    assert me.llr.count() == 0
    ge = {r.doc_id: r for r in
          nb_predict(score_df, me, "toks").collect()}
    assert ge[10].score == 0.0 and not ge[10].pred
    # degenerate: single-class corpus stays finite via smoothing
    ms = nb_train(df.filter("y = 1.0"), "toks", "y", alpha=al)
    assert math.isfinite(ms.prior_logodds) and ms.prior_logodds > 0
    assert math.isfinite(ms.oov_llr)
    for r in ms.llr.collect():
        assert math.isfinite(r.llr)
    with _pytest.raises(ValueError):
        nb_train(df, "toks", "y", alpha=0.0)


def test_hits_matches_numpy_model(spark):
    """HITS vs a hand-rolled numpy power iteration with the same L1
    normalization: exact agreement per node, both vectors sum to 1,
    a pure-hub star center gets auth 0 (and its leaves hub 0),
    duplicate edges collapse, and the empty graph returns the empty
    typed frame (total)."""
    import numpy as np
    import pytest as _pytest

    from picoprobedataflow_spark.operators.graph import hits

    # star 0->{1,2,3} plus 4->0 so node 0 is both pointed-at and
    # pointing; edge 0->1 duplicated to pin collapsing.
    raw = [(0, 1), (0, 1), (0, 2), (0, 3), (4, 0)]
    df = spark.createDataFrame(raw, "src long, dst long")
    it = 7
    got = {r.node: (r.hub, r.auth)
           for r in hits(df, n_iter=it, round_digits=None).collect()}

    edges = sorted(set(raw))
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in edges:
        A[idx[s], idx[d]] = 1.0
    h = np.full(len(nodes), 1.0 / len(nodes))
    a = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(it):
        a = A.T @ h
        a = a / a.sum() if a.sum() > 0 else a
        h = A @ a
        h = h / h.sum() if h.sum() > 0 else h
    for n in nodes:
        assert abs(got[n][0] - h[idx[n]]) < 1e-12, n
        assert abs(got[n][1] - a[idx[n]]) < 1e-12, n
    assert abs(sum(v[0] for v in got.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-9
    # leaves 1,2,3 have no out-edges -> hub 0; nothing points at 4
    # -> auth 0
    for leaf in (1, 2, 3):
        assert got[leaf][0] == 0.0
    assert got[4][1] == 0.0
    # node 0: the dominant hub (it sources 3 of the 4 edges)
    assert got[0][0] == max(v[0] for v in got.values())
    # empty graph: total, correctly-typed empty frame
    empty = spark.createDataFrame([], "src long, dst long")
    out = hits(empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node", "hub",
                                                   "auth"]
    with _pytest.raises(ValueError):
        hits(df, n_iter=0)


def test_pagerank_personalized_trustrank(spark):
    """TrustRank-style personalized teleport: rank flows outward from
    the seed set only — a node unreachable from any seed converges to
    0, the vector still sums to 1, the numpy model agrees exactly,
    seeding every node ~= the uniform op, and a seed set disjoint
    from the graph is rejected."""
    import numpy as np
    import pytest as _pytest

    from picoprobedataflow_spark.operators.graph import pagerank

    # 0->1->2 (trusted island), 3->4 (untrusted island, unreachable
    # from the seed), 2 dangling, 4 dangling
    E = [(0, 1), (1, 2), (3, 4)]
    edges = spark.createDataFrame(E, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (99,)], "node long")  # 99 absent
    d, it, n = 0.85, 6, 5
    with job_group(spark, "pagerank-seeded-jobs") as jobs:
        ranks = pagerank(edges, n_iter=it, damping=d, seeds=seeds)
    assert jobs() <= PAGERANK_SEEDED_JOBS
    got = {r.node: r.pr for r in ranks.collect()}
    # numpy model: teleport vector concentrated on node 0
    out = {0: 1, 1: 1, 2: 0, 3: 1, 4: 0}
    t = np.array([1.0, 0, 0, 0, 0])
    pr = t.copy()
    for _ in range(it):
        m = sum(pr[u] for u in range(n) if out[u] == 0)
        new = (1 - d) * t + d * m * t
        for a, b in E:
            new[b] += d * pr[a] / out[a]
        pr = new
    for v in range(n):
        assert abs(got[v] - round(float(pr[v]), 6)) <= 1e-6, (v, got[v])
    # unreachable-from-seed island gets ZERO rank (spam demotion)
    assert got[3] == 0.0 and got[4] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-5
    # seeding EVERY node reproduces the uniform op (up to the
    # documented multiply-vs-divide last-ulp class)
    allseeds = spark.createDataFrame([(i,) for i in range(5)],
                                     "node long")
    uni = {r.node: r.pr for r in pagerank(edges, n_iter=3).collect()}
    per = {r.node: r.pr for r in
           pagerank(edges, n_iter=3, seeds=allseeds).collect()}
    for v in uni:
        assert abs(uni[v] - per[v]) <= 2e-6
    # no seed present in the graph -> undefined teleport, rejected
    with _pytest.raises(ValueError):
        pagerank(edges, n_iter=2,
                 seeds=spark.createDataFrame([(42,)], "node long"))
    # ...including on the EMPTY graph (review find: the totality
    # early-return used to swallow a disjoint-by-vacuity seed list)
    empty = spark.createDataFrame([], "src long, dst long")
    with _pytest.raises(ValueError):
        pagerank(empty, n_iter=2,
                 seeds=spark.createDataFrame([(0,)], "node long"))
    # multi-column seeds frame: rejected, never silently narrowed
    with _pytest.raises(ValueError):
        pagerank(edges, n_iter=2, seeds=edges)


def test_round13_ops_degenerate_inputs(spark):
    """Degenerate-input cadence for the round-13 ops: null URLs
    through the robots gate (verdict row with null host, default
    allow — the gate is total), a reference smaller than the bucket
    count through PSI (duplicate edges leave permanently-empty
    buckets but the n-row contract holds), and a self-loop through
    PageRank (it is its own in-neighbor; mass conserved)."""
    from picoprobedataflow_spark.functions.web import (
        robots_gate, robots_rules_table)
    from picoprobedataflow_spark.operators.drift import psi_report
    from picoprobedataflow_spark.operators.graph import pagerank

    # null URL: total, defaults to allowed, null domain carried
    rules = robots_rules_table(spark, [("h.com", "/", False)])
    urls = spark.createDataFrame([(0, None), (1, "https://h.com/x")],
                                 "doc_id long, url string")
    got = {r.doc_id: (r.domain, r.allowed)
           for r in robots_gate(urls, rules).collect()}
    assert got[1] == ("h.com", False)
    assert got[0][1] is True  # no authority -> REP default allow

    # |ref distinct values| < n_buckets: duplicate quantile edges,
    # full-grid contract still holds, identical snapshots score 0
    tiny = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "v double")
    rows = psi_report(tiny, tiny, "v", n_buckets=8).collect()
    assert len(rows) == 8
    assert sum(r.n_ref for r in rows) == 3
    assert all(r.psi_term == 0.0 for r in rows)

    # self-loop: node 0 is its own in-neighbor; vector sums to 1
    loop = spark.createDataFrame([(0, 0), (0, 1)],
                                 "src long, dst long")
    pr = {r.node: r for r in pagerank(loop, n_iter=4).collect()}
    assert pr[0].outdeg == 2
    assert abs(sum(r.pr for r in pr.values()) - 1.0) < 1e-6
    # this graph's exact stationary point is symmetric: 0 splits its
    # mass between itself and 1, and 1 (dangling) returns everything
    # uniformly — new_a = (1-d)/2 + d*(a/2 + (1-a)/2) = 1/2 exactly,
    # from the first iteration on
    assert pr[0].pr == 0.5 and pr[1].pr == 0.5


def test_pmi_cooccurrence_matches_hand_model(spark):
    """PMI collocation table vs hand-computed values on a tiny
    corpus: unordered within-window pairs, identical-token pairs
    counted, T_pairs totaled over ALL windows (not just survivors),
    min_count cuts the tail, NULL docs and sub-2-token docs
    contribute nothing, window < 1 rejected."""
    import math

    import pytest as _pytest

    from picoprobedataflow_spark.functions.text import \
        pmi_cooccurrence

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b a"), (2, None), (3, "solo")],
        "doc_id long, text string")
    got = {(r.term_a, r.term_b): (r.n_pair, r.pmi)
           for r in pmi_cooccurrence(docs, window=2,
                                     min_count=1).collect()}
    # unigrams a:3 b:2 c:1 solo:1, T_tok=7; pairs doc0: (a,b)x2,
    # (a,a),(b,c),(a,c); doc1: (a,b). T_pairs = 5 + 1 = 6.
    T, tt = 6.0, 7.0
    want = {("a", "b"): 3, ("a", "a"): 1, ("b", "c"): 1,
            ("a", "c"): 1}
    cnt = {"a": 3.0, "b": 2.0, "c": 1.0}
    assert {k: v[0] for k, v in got.items()} == want
    for (x, y), n in want.items():
        pmi = math.log((n / T) / ((cnt[x] / tt) * (cnt[y] / tt)))
        assert abs(got[(x, y)][1] - round(pmi, 6)) <= 1e-9, (x, y)
    # min_count prunes to the repeated pair only
    got2 = {(r.term_a, r.term_b)
            for r in pmi_cooccurrence(docs, window=2,
                                      min_count=2).collect()}
    assert got2 == {("a", "b")}
    with _pytest.raises(ValueError):
        pmi_cooccurrence(docs, window=0)


def test_ks_report_matches_hand_model(spark):
    """Exact two-sample KS vs hand-computed CDF distances: known
    statistic on a small pair, zero on identical samples, NULL (not
    a crash, and still exactly one row) when a side is empty, and
    round_to quantizes before comparing."""
    from picoprobedataflow_spark.operators.drift import ks_report

    ref = spark.createDataFrame([(1.0,), (2.0,), (2.0,), (3.0,)],
                                "v double")
    cur = spark.createDataFrame([(2.0,), (3.0,), (3.0,), (4.0,)],
                                "v double")
    row = ks_report(ref, cur, "v").collect()
    assert len(row) == 1
    r = row[0]
    # CDF_ref = [.25,.75,1,1], CDF_cur = [0,.25,.75,1] -> sup .5
    assert (r.n_ref, r.n_cur, r.ks) == (4, 4, 0.5)
    same = ks_report(ref, ref, "v").head()
    assert same.ks == 0.0
    empty = spark.createDataFrame([], "v double")
    e = ks_report(ref, empty, "v").collect()
    assert len(e) == 1
    assert (e[0].n_ref, e[0].n_cur, e[0].ks) == (4, 0, None)
    both = ks_report(empty, empty, "v").collect()
    assert len(both) == 1 and both[0].ks is None
    # round_to: 1.04 vs 1.01 collapse to 1.0 -> no drift at 1 dp
    a = spark.createDataFrame([(1.04,), (2.0,)], "v double")
    b = spark.createDataFrame([(1.01,), (2.0,)], "v double")
    assert ks_report(a, b, "v", round_to=1).head().ks == 0.0
    assert ks_report(a, b, "v").head().ks == 0.5


def test_ks_sharded_equals_single_window(spark):
    """The deployed sharded two-phase ECDF (round 17) must be
    BIT-identical to the retired global-window formulation — same
    discipline as pack_sequences vs its single-window twin. Pinned
    across shard counts (1 = degenerate single shard, tiny counts
    that leave shards empty, the default), on skewed data (one
    outlier stretches the linear shard range so most values land in
    one shard — degraded parallelism must never change values), and
    on an all-equal column (span 0 → shard 0 for every row)."""
    from picoprobedataflow_spark.operators.drift import (
        ks_reference, ks_score, ks_score_single_window)

    ref = spark.createDataFrame(
        [(float(i % 17),) for i in range(200)]
        + [(1e9,)], "v double")                    # range outlier
    cur = spark.createDataFrame(
        [(float((i * 7) % 23),) for i in range(180)], "v double")
    kr = ks_reference(ref, "v")
    want = ks_score_single_window(cur, "v", kr).collect()
    for ns in (1, 2, 7, 64, 500):
        got = ks_score(cur, "v", kr, n_shards=ns,
                       formulation="sharded").collect()
        assert got == want, (ns, got, want)
    # auto on tiny in-memory inputs routes to single_window; with
    # the threshold forced to 0 it routes to sharded — same values
    # either way (the statistics-driven cutover contract)
    from picoprobedataflow_spark.operators import drift as DRIFT
    assert ks_score(cur, "v", kr).collect() == want
    old = DRIFT.KS_SINGLE_WINDOW_MAX_BYTES
    try:
        DRIFT.KS_SINGLE_WINDOW_MAX_BYTES = 0
        assert ks_score(cur, "v", kr).collect() == want
    finally:
        DRIFT.KS_SINGLE_WINDOW_MAX_BYTES = old
    # all-equal values on both sides: span 0, one shard, ks defined
    const = spark.createDataFrame([(5.0,)] * 9, "v double")
    kc = ks_reference(const, "v")
    assert ks_score(const, "v", kc).head().ks == 0.0
    # non-finite values: NaN poisons span (NaN > 0 is false → every
    # row shard 0) and an infinite endpoint sends every finite ratio
    # to NaN → least() picks the last shard — both collapse to ONE
    # shard, where within-shard order ≡ global order, so the
    # stitched form stays value-identical (NaN still sorts LAST in
    # both, the Spark convention)
    inf, nan = float("inf"), float("nan")
    for vals in ([1.0, 2.0, nan, 3.0], [1.0, inf, 2.0],
                 [-inf, 1.0, 2.0], [-inf, 0.0, inf], [nan, nan]):
        kx = ks_reference(
            spark.createDataFrame([(v,) for v in vals], "v double"),
            "v")
        assert (ks_score(cur, "v", kx,
                         formulation="sharded").collect()
                == ks_score_single_window(cur, "v", kx).collect()), \
            vals
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ks_score(cur, "v", kr, n_shards=0)
    with _pytest.raises(ValueError):
        ks_score(cur, "v", kr, formulation="bogus")


def test_ks_plan_no_unbounded_global_window(spark):
    """Round-17 scale fix pinned in the plan: ks_score's windows are
    either partitioned (the within-shard cumsums) or ordered by
    ``_shard`` — the n_shards-bounded totals table (the
    pack_sequences convention). The retired formulation's global
    ``ORDER BY v`` over the distinct-VALUE table (≈ row count on a
    continuous column) must never reappear in the deployed path."""
    import re

    from picoprobedataflow_spark.operators.drift import (
        ks_reference, ks_score)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.length("text").alias("v"))
    cur = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.length("text").alias("v"))
    plan = (ks_score(cur, "v", ks_reference(ref, "v"),
                     formulation="sharded")
            ._jdf.queryExecution().executedPlan().toString())
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan                      # the cumsums are windows
    for spec in specs:
        first = spec.split(",")[0]
        if " ASC" in first or " DESC" in first:   # partition-less
            assert "_shard" in first, (
                f"partition-less window over an unbounded table: "
                f"{spec}")


def test_spam_mass_separates_islands(spark):
    """Spam-mass composition: nodes of an island unreachable from
    the trusted seeds carry rel_spam_mass 1 (their trust is 0),
    seed-reachable nodes sit well below, and pr/trust columns match
    standalone pagerank runs exactly."""
    from picoprobedataflow_spark.operators.graph import (
        pagerank, spam_mass)

    # trusted island 0->1->2 (seed 0); spam farm 3<->4->5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (4, 3), (4, 5)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r for r in spam_mass(edges, seeds,
                                        n_iter=6).collect()}
    for spammy in (3, 4, 5):
        assert got[spammy].trust == 0.0
        assert got[spammy].rel_spam_mass == 1.0
    for trusted in (0, 1, 2):
        assert got[trusted].rel_spam_mass < 0.9
    assert got[2].trust > 0.0
    # columns equal the standalone runs (pure composition)
    pr = {r.node: round(r.pr, 6) for r in
          pagerank(edges, n_iter=6, round_digits=None).collect()}
    for n, r in got.items():
        assert r.pr == round(pr[n], 6)


def test_weighted_pagerank_matches_numpy(spark):
    """weight_col: rank divides over out-edges proportionally to
    weight (numpy model agreement), duplicate edges SUM weights,
    non-positive/NULL weights drop (and a node whose only out-edge
    had weight 0 is dangling), uniform weights reproduce the
    unweighted op exactly."""
    import numpy as np

    from picoprobedataflow_spark.operators.graph import pagerank

    rows = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0),
            (0, 1, 1.0),            # duplicate edge: sums to 4.0
            (2, 0, 0.0),            # zero weight: dropped -> 2 dangling
            (1, 0, None)]           # NULL weight: dropped
    df = spark.createDataFrame(rows,
                               "src long, dst long, w double")
    it, d = 5, 0.85
    got = {r.node: (r.outdeg, r.pr)
           for r in pagerank(df, n_iter=it, weight_col="w",
                             round_digits=None).collect()}
    # numpy model over the effective weighted graph
    W = {(0, 1): 4.0, (0, 2): 1.0, (1, 2): 2.0}
    nodes = [0, 1, 2]
    s = {0: 5.0, 1: 2.0, 2: 0.0}
    pr = np.full(3, 1 / 3)
    for _ in range(it):
        nxt = np.zeros(3)
        m = pr[2]  # node 2 dangling
        for (u, v), w in W.items():
            nxt[v] += pr[u] * w / s[u]
        pr = (1 - d) / 3 + d * (nxt + m / 3)
    for n in nodes:
        assert abs(got[n][1] - pr[n]) < 1e-9, n
    assert abs(sum(v for _, v in got.values()) - 1.0) < 1e-9
    assert got[2][0] == 0                     # dangling after drops
    assert got[0][0] == 2 and got[1][0] == 1  # distinct out-edges
    # uniform weights == the unweighted op exactly
    uni = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0)],
        "src long, dst long, w double")
    plain = spark.createDataFrame([(0, 1), (0, 2), (1, 2)],
                                  "src long, dst long")
    a = sorted(map(tuple, pagerank(uni, n_iter=3,
                                   weight_col="w").collect()))
    b = sorted(map(tuple, pagerank(plain, n_iter=3).collect()))
    assert a == b


def test_weighted_pagerank_review_edges(spark):
    """Review-pass pins: seeds + weight_col compose (weighted
    TrustRank); NaN/+inf weights drop instead of poisoning the
    vector; a node mentioned only by dropped-weight edges still
    ranks (dangling), matching the unweighted node universe; and
    spam_mass at damping=1.0 reports NULL (not DIVIDE_BY_ZERO) for
    a zero-pr node."""
    import math

    from picoprobedataflow_spark.operators.graph import (
        pagerank, spam_mass)

    # seeds + weights together
    wdf = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0)], "src long, dst long, w double")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.pr for r in
           pagerank(wdf, n_iter=3, weight_col="w",
                    seeds=seeds).collect()}
    assert set(got) == {0, 1, 2}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # NaN / +inf weights drop; the rest of the graph stays finite
    bad = spark.createDataFrame(
        [(0, 1, float("nan")), (1, 2, 1.0),
         (0, 2, float("inf"))], "src long, dst long, w double")
    vals = {r.node: r.pr for r in
            pagerank(bad, n_iter=3, weight_col="w",
                     round_digits=None).collect()}
    assert all(math.isfinite(v) for v in vals.values()), vals
    assert abs(sum(vals.values()) - 1.0) < 1e-9
    # zero-weight-only nodes remain in the universe, as dangling
    zdf = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 0.0)], "src long, dst long, w double")
    zz = {r.node: (r.outdeg, r.pr) for r in
          pagerank(zdf, n_iter=2, weight_col="w").collect()}
    assert set(zz) == {0, 1, 2, 3}
    assert zz[2][0] == 0 and zz[3][0] == 0
    assert zz[2][1] > 0 and zz[3][1] > 0
    # spam_mass damping=1.0: zero-pr node -> NULL rel, no crash
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 1)],
                                  "src long, dst long")
    s1 = spark.createDataFrame([(1,)], "node long")
    sm = {r.node: r.rel_spam_mass for r in
          spam_mass(edges, s1, n_iter=3, damping=1.0).collect()}
    assert sm[0] is None
    assert all(v is not None for n, v in sm.items() if n != 0)


def test_upsample_sources_multiplicity_and_mixture_consistency(spark):
    """Source upsampling: per-doc multiplicity is floor(w) plus a
    hash-fraction extra, expected source multiplicity hits w, the
    w<=1 kept set EQUALS mixture_sample's exactly (epoch 0), missing
    sources drop, epoch labels run 0..k-1, negative weights
    rejected."""
    import pytest as _pytest

    from picoprobedataflow_spark.functions.text import (
        mixture_sample, upsample_sources)

    docs = spark.createDataFrame(
        [(i, "wiki" if i < 400 else ("crawl" if i < 800 else "other"),
          f"t{i}") for i in range(1000)],
        "doc_id long, source string, text string")
    w = {"wiki": 2.5, "crawl": 0.7}
    out = upsample_sources(docs, w)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    # wiki: every doc 2 or 3 copies, epochs 0..k-1; crawl: 0/1;
    # other: absent
    n_wiki3 = 0
    for i in range(400):
        eps = sorted(by_doc.get(i, []))
        assert eps in ([0, 1], [0, 1, 2]), i
        n_wiki3 += len(eps) == 3
    assert 120 <= n_wiki3 <= 280          # ~50% of 400, hash-spread
    crawl_kept = {i for i in range(400, 800) if i in by_doc}
    for i in crawl_kept:
        assert by_doc[i] == [0]
    assert 200 <= len(crawl_kept) <= 350  # ~70% of 400
    assert not any(i in by_doc for i in range(800, 1000))
    # w<=1 equivalence with mixture_sample (same salt, same bucket)
    mixed = {r.doc_id for r in
             mixture_sample(docs, {"crawl": 0.7}).collect()}
    assert crawl_kept == mixed
    # determinism
    out2 = upsample_sources(docs, w)
    by_doc2 = {}
    for r in out2.collect():
        by_doc2.setdefault(r.doc_id, []).append(r.epoch)
    assert {k: sorted(v) for k, v in by_doc.items()} == \
        {k: sorted(v) for k, v in by_doc2.items()}
    with _pytest.raises(ValueError):
        upsample_sources(docs, {"wiki": -0.1})


def test_substring_dedup_matches_bruteforce(spark):
    """KMR prefix-doubling exact-substring dedup == an O(n²)
    brute-force window count on a planted corpus, at a
    non-power-of-two threshold (exercises the sparse-table combine)
    AND a power-of-two one (exercises the k == min_len early-out).
    The planted 7-token cross-doc quote must surface as a maximal
    span LONGER than the threshold — the arbitrary-length property
    fixed-k shingles can't express."""
    from picoprobedataflow_spark.operators.dedup import (
        substring_dedup_stats,
    )

    corpus = [
        (0, "a b c d e f g h i j"),
        (1, "x y a b c d e f g z"),        # embeds a..g from doc 0
        (2, "p q r s t"),
        (3, "short doc"),
        (4, "m m m m m m m m"),            # self-repeat
        (5, ""),
        (6, "u v w x1 y1 z1 u v w x1 y1 z1"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])

    for L in (5, 4):
        got = {r.doc_id: r for r in
               substring_dedup_stats(docs, min_len=L).collect()}
        toks = {d: (t.split() if t.strip() else [""])
                for d, t in corpus}
        from collections import Counter
        wins = Counter(tuple(w[i:i + L])
                       for w in toks.values()
                       for i in range(len(w) - L + 1))
        for d, w in toks.items():
            dup = [i for i in range(len(w) - L + 1)
                   if wins[tuple(w[i:i + L])] >= 2]
            merged = []
            for p in dup:
                if merged and p <= merged[-1][1] + L:
                    merged[-1][1] = p
                else:
                    merged.append([p, p])
            dup_tok = sum(b + L - a for a, b in merged)
            r = got[d]
            assert r.n_dup_pos == len(dup), (L, d)
            assert r.n_spans == len(merged), (L, d)
            assert r.dup_tok == dup_tok, (L, d)
            assert r.max_span == max(
                [b + L - a for a, b in merged], default=0), (L, d)
            assert r.dup_ratio == round(dup_tok / len(w), 6), (L, d)
    # the arbitrary-length property: a 7-token quote at L=5 reports
    # a 7-token maximal span on both the source and the quoting doc
    r5 = {r.doc_id: r for r in
          substring_dedup_stats(docs, min_len=5).collect()}
    assert r5[0].max_span == 7 and r5[1].max_span == 7
    # a repeat never crosses a document boundary
    boundary = spark.createDataFrame(
        [(0, "h1 h2 h3 t1 t2"), (1, "t1 t2 h1 h2 h3")],
        ["doc_id", "text"])
    rb = {r.doc_id: r for r in
          substring_dedup_stats(boundary, min_len=4).collect()}
    assert all(r.n_dup_pos == 0 for r in rb.values())


def test_substring_dedup_degenerates(spark):
    """Totality: empty corpus, all-empty texts, min_len=1 (every
    repeated token is a span), threshold longer than every doc, and
    a doc that is ONE giant repeat."""
    from picoprobedataflow_spark.operators.dedup import (
        substring_dedup_stats,
    )
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert substring_dedup_stats(empty, min_len=3).count() == 0

    blank = spark.createDataFrame([(0, ""), (1, "  ")],
                                  ["doc_id", "text"])
    rows = substring_dedup_stats(blank, min_len=2).collect()
    assert {r.doc_id for r in rows} == {0, 1}
    assert all(r.n_dup_pos == 0 and r.dup_ratio == 0.0 for r in rows)

    one = spark.createDataFrame([(0, "a b a b"), (1, "c a d")],
                                ["doc_id", "text"])
    r1 = {r.doc_id: r for r in
          substring_dedup_stats(one, min_len=1).collect()}
    # 'a' occurs 3x, 'b' 2x: doc0 all four positions dup, doc1 pos 1
    assert r1[0].n_dup_pos == 4 and r1[1].n_dup_pos == 1

    toolong = substring_dedup_stats(one, min_len=50).collect()
    assert all(r.n_dup_pos == 0 for r in toolong)

    with _pytest.raises(ValueError):
        substring_dedup_stats(one, min_len=0).collect()


def test_pagerank_warm_start_equivalence(spark):
    """Warm-start contract (round 14): starting from a CONVERGED
    vector, one more iteration reproduces the cold ranks within
    1e-9; starting from the cold k-iteration vector, j warm
    iterations equal the cold (k+j) run; and a grown graph
    warm-started from the old epoch converges to the new cold
    fixpoint in a fraction of the iterations. Defaults (None) keep
    the cold path — the gated family is byte-identical by
    construction."""
    from picoprobedataflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 17, (i * 13 + 5) % 17) for i in range(60)]
        + [(3, 16), (16, 3)],
        ["src", "dst"])

    cold = pagerank(edges, n_iter=40, round_digits=None)
    init = cold.select("node", "pr")
    warm1 = pagerank(edges, n_iter=1, round_digits=None,
                     init_ranks=init)
    c = {r.node: r.pr for r in cold.collect()}
    w = {r.node: r.pr for r in warm1.collect()}
    assert set(c) == set(w)
    assert max(abs(c[n] - w[n]) for n in c) < 1e-9

    # cold(5) then 3 warm iterations == cold(8), FP-tight
    mid = pagerank(edges, n_iter=5, round_digits=None)
    resumed = pagerank(edges, n_iter=3, round_digits=None,
                       init_ranks=mid.select("node", "pr"))
    full = pagerank(edges, n_iter=8, round_digits=None)
    rs = {r.node: r.pr for r in resumed.collect()}
    fs = {r.node: r.pr for r in full.collect()}
    assert max(abs(rs[n] - fs[n]) for n in fs) < 1e-12

    # epoch-2: graph grows; warm(3) tracks cold(40) better than
    # cold(3) does — the amortization claim, quantified
    edges2 = edges.unionAll(spark.createDataFrame(
        [(17, 3), (3, 17), (17, 18), (18, 0)], ["src", "dst"]))
    ref = {r.node: r.pr
           for r in pagerank(edges2, n_iter=40,
                             round_digits=None).collect()}
    warm3 = {r.node: r.pr
             for r in pagerank(edges2, n_iter=3, round_digits=None,
                               init_ranks=init).collect()}
    cold3 = {r.node: r.pr
             for r in pagerank(edges2, n_iter=3,
                               round_digits=None).collect()}
    err_w = max(abs(ref[n] - warm3[n]) for n in ref)
    err_c = max(abs(ref[n] - cold3[n]) for n in ref)
    # strictly better than cold at equal iteration count; the
    # absolute bound is loose because adding 2 nodes to a 17-node
    # graph is a 12% perturbation — far harsher than the
    # slowly-growing crawl graph the warm start targets
    assert err_w < err_c
    assert err_w < 0.05
    # new nodes (17, 18) got ranks despite being absent from init
    assert 17 in warm3 and 18 in warm3

    # hygiene: NaN/negative init rows fall back to teleport
    # (equivalent to omitting them), and a wide frame is rejected
    poisoned = spark.createDataFrame(
        [(0, float("nan")), (1, -0.5), (2, 0.04)], ["node", "pr"])
    clean = spark.createDataFrame([(2, 0.04)], ["node", "pr"])
    p = {r.node: r.pr
         for r in pagerank(edges, n_iter=2, round_digits=None,
                           init_ranks=poisoned).collect()}
    q = {r.node: r.pr
         for r in pagerank(edges, n_iter=2, round_digits=None,
                           init_ranks=clean).collect()}
    assert max(abs(p[n] - q[n]) for n in p) < 1e-15
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pagerank(edges, n_iter=1,
                 init_ranks=cold)  # 3 columns


def test_frontier_warm_start_matches_cold(spark):
    """The flow-level thread-through: a frontier computed with
    n_iter=1 from the previous (converged) epoch's scoreboard equals
    the cold 10-iteration frontier — same URLs, same order."""
    from picoprobedataflow_spark.flows.crawl import (
        prioritize_frontier,
    )
    from picoprobedataflow_spark.operators.graph import pagerank
    from picoprobedataflow_spark.functions.web import url_normalize

    links = spark.createDataFrame(
        [(f"http://site{i % 5}.example.com/p{i}",
          f"http://site{(i * 3 + 1) % 5}.example.com/p{(i * 7) % 9}")
         for i in range(30)],
        ["src_url", "dst_url"])
    rules = spark.createDataFrame(
        [("site0.example.com", "/", True)],
        ["domain", "rule_path", "allow"]).limit(0)

    e = links.select(url_normalize(F.col("src_url")).alias("src"),
                     url_normalize(F.col("dst_url")).alias("dst"))
    converged = (pagerank(e, n_iter=40, round_digits=None)
                 .select(F.col("node").alias("url"), "pr"))
    cold = prioritize_frontier(links, rules, n_iter=40,
                               quota=3, top_n=10).collect()
    warm = prioritize_frontier(links, rules, n_iter=1, quota=3,
                               top_n=10,
                               init_ranks=converged).collect()
    assert [r.url for r in cold] == [r.url for r in warm]
    for a, b in zip(cold, warm):
        assert abs(a.pr - b.pr) < 1e-9


def test_chi2_report_matches_hand_model(spark):
    """chi2_report == the scipy chi2_contingency arithmetic computed
    by hand on the 2×k table (union of categories, zero fills), with
    the new-at-cur category path exercised; identical mixes score
    ~0; empty sides yield NULL terms (the KS no-data contract); and
    the top_k rollup is deterministic against the REFERENCE's top
    set."""
    from picoprobedataflow_spark.operators.drift import (
        chi2_reference, chi2_report, chi2_score)

    ref = spark.createDataFrame(
        [("en",)] * 50 + [("de",)] * 30 + [("fr",)] * 20, "cat string")
    cur = spark.createDataFrame(
        [("en",)] * 30 + [("de",)] * 25 + [("zh",)] * 45, "cat string")
    rows = {r.category: r for r in
            chi2_report(ref, cur, "cat").collect()}
    table = {"en": (50, 30), "de": (30, 25), "fr": (20, 0),
             "zh": (0, 45)}
    tr, tc = 100, 100
    for cat, (a, b) in table.items():
        col = a + b
        e_r, e_c = tr * col / (tr + tc), tc * col / (tr + tc)
        want = (a - e_r) ** 2 / e_r + (b - e_c) ** 2 / e_c
        r = rows[cat]
        assert (r.n_ref, r.n_cur) == (a, b)
        assert abs(r.e_cur - round(e_c, 6)) < 1e-12, cat
        assert abs(r.chi2_term - round(want, 6)) < 1e-12, cat
    # identical mix -> every term 0 (expected == observed exactly)
    same = chi2_report(ref, ref, "cat").collect()
    assert all(r.chi2_term == 0.0 for r in same)
    # empty current side -> terms NULL, categories still listed
    empty = spark.createDataFrame([], "cat string")
    nul = chi2_report(ref, empty, "cat").collect()
    assert {r.category for r in nul} == {"en", "de", "fr"}
    assert all(r.chi2_term is None and r.e_cur is None for r in nul)
    # NULL categories drop on both sides
    withnull = spark.createDataFrame(
        [("en",), (None,)], "cat string")
    nn = chi2_report(withnull, withnull, "cat").collect()
    assert {r.category for r in nn} == {"en"}
    assert nn[0].n_ref == nn[0].n_cur == 1

    # top_k: reference picks {en, de} (count desc, cat asc ties);
    # fr rolls to __other__ on BOTH sides, zh (unseen at ref) joins
    # the other bucket instead of minting a category
    reference = chi2_reference(ref, "cat", top_k=2)
    kept = {r.cat: r.c_ref for r in reference.counts.collect()}
    assert kept == {"en": 50, "de": 30, "__other__": 20}
    rolled = {r.category: (r.n_ref, r.n_cur) for r in
              chi2_score(cur, "cat", reference).collect()}
    assert rolled == {"en": (50, 30), "de": (30, 25),
                      "__other__": (20, 45)}


def test_connected_components_null_endpoints_uniform(spark):
    """NULL-endpoint edges drop uniformly (round-14 review fix): the
    numeric and string branches agree — the edge vanishes, the
    non-NULL endpoint is simply not pulled into any component by it,
    and a node connected only through NULL edges is absent (callers
    treat absent nodes as their own canonical)."""
    from picoprobedataflow_spark.operators.dedup import \
        connected_components

    num = spark.createDataFrame(
        [(1, 2), (2, 3), (7, None), (None, 9), (None, None)],
        "a long, b long")
    got_n = {(r.node, r.comp) for r in
             connected_components(num, "a", "b").collect()}
    assert got_n == {(1, 1), (2, 1), (3, 1)}

    s = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("q", None), (None, "r")],
        "a string, b string")
    got_s = {(r.node, r.comp) for r in
             connected_components(s, "a", "b").collect()}
    assert got_s == {("x", "x"), ("y", "x"), ("z", "x")}


def test_weighted_pagerank_float_extreme_weights(spark):
    """Round-14 battery fix, reproduced live: three 1e308 edges from
    one node overflowed Σw to +inf and pr·w/inf = 0 leaked 75% of
    the rank mass. Max-normalized shares (w/max per src) preserve
    every ratio exactly and keep the walk overflow-free: mass sums
    to 1, the three equal-weight targets split equally, a
    duplicate-edge weight SUM that overflows drops under the same
    rule as an infinite input, and denormal-tiny weights still
    divide cleanly."""
    from picoprobedataflow_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 1e308), (0, 2, 1e308), (0, 3, 1e308), (1, 0, 1.0),
         (2, 0, 1.0), (3, 0, 1.0)],
        "src long, dst long, w double")
    rows = pagerank(edges, n_iter=5, weight_col="w",
                    round_digits=None).collect()
    assert abs(sum(r.pr for r in rows) - 1.0) < 1e-9
    prs = {r.node: r.pr for r in rows}
    assert abs(prs[1] - prs[2]) < 1e-15 and abs(prs[2] - prs[3]) < 1e-15
    # identical ranks to the same graph at weight 1.0 (ratios are
    # all that matter): equal weights of ANY magnitude == unweighted
    uni = {r.node: r.pr for r in pagerank(
        edges.withColumn("w", F.lit(1.0)), n_iter=5,
        weight_col="w", round_digits=None).collect()}
    for n in prs:
        assert abs(prs[n] - uni[n]) < 1e-12, n

    # duplicate-edge sum overflow: two 1e308 rows for 0->1 collapse
    # to +inf and drop; the remaining 0->2 edge carries all of 0's
    # rank (node 1 still ranks as a node — dangling drop rule)
    dup = spark.createDataFrame(
        [(0, 1, 1e308), (0, 1, 1e308), (0, 2, 1.0), (2, 0, 1.0),
         (1, 0, 1.0)],
        "src long, dst long, w double")
    d = {r.node: r for r in pagerank(dup, n_iter=3, weight_col="w",
                                     round_digits=None).collect()}
    assert set(d) == {0, 1, 2}
    assert abs(sum(r.pr for r in d.values()) - 1.0) < 1e-9
    assert d[2].pr > d[1].pr  # node 1 gets no flow, only teleport

    # denormal-tiny weights: 5e-324 / max(...) is exact (same key)
    tiny = spark.createDataFrame(
        [(0, 1, 5e-324), (0, 2, 5e-324), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double")
    t = {r.node: r.pr for r in pagerank(
        tiny, n_iter=4, weight_col="w", round_digits=None).collect()}
    assert abs(sum(t.values()) - 1.0) < 1e-9
    assert abs(t[1] - t[2]) < 1e-15


def test_upsample_sources_integer_boundary_weights(spark):
    """Round-14 battery pin: multiplicities at and just across
    integer weight boundaries. int() + round-to-1e-4-grid makes the
    op exact at w=2.0, snaps float fuzz (1.9999999999999998 /
    3.0000000000000004) to the intended integer, and documents the
    1e-4 fractional resolution floor (w=1e-5 rounds to zero — a
    sub-resolution source vanishes rather than keeping a random
    sliver)."""
    from picoprobedataflow_spark.functions.text import \
        upsample_sources

    docs = spark.createDataFrame(
        [(i, f"s{k}", "t") for k in range(5) for i in
         range(k * 100, k * 100 + 40)],
        "doc_id long, source string, text string")
    w = {"s0": 2.0, "s1": 1.9999999999999998,
         "s2": 3.0000000000000004, "s3": 0.00001, "s4": 1.0}
    out = upsample_sources(docs, w, by_col="source")
    mult = {r.source: r.n for r in
            (out.groupBy("source", "doc_id").count()
             .groupBy("source")
             .agg(F.max("count").alias("mx"),
                  F.min("count").alias("mn"),
                  F.count("*").alias("docs"))
             .select("source", F.struct("mx", "mn", "docs")
                     .alias("n")).collect())}
    assert (mult["s0"].mx, mult["s0"].mn, mult["s0"].docs) == (2, 2, 40)
    assert (mult["s1"].mx, mult["s1"].mn, mult["s1"].docs) == (2, 2, 40)
    assert (mult["s2"].mx, mult["s2"].mn, mult["s2"].docs) == (3, 3, 40)
    assert "s3" not in mult          # sub-resolution source drops
    assert (mult["s4"].mx, mult["s4"].mn, mult["s4"].docs) == (1, 1, 40)
    # epoch ids are dense 0..n-1 per copy group
    eps = (out.filter(F.col("source") == "s2")
           .groupBy("doc_id").agg(F.collect_set("epoch").alias("e"))
           .collect())
    assert all(sorted(r.e) == [0, 1, 2] for r in eps)


def test_remove_duplicate_substrings_hand_model(spark):
    """The ExactSubstr deletion half: a doc quoting a 7-token run of
    another loses exactly the quoted tokens (unaligned — no span_w
    grid), the SOURCE keeps its text (first occurrence survives), a
    self-repeating doc keeps its first copy, untouched docs pass
    through verbatim (single-space normalized), and the removal is
    consistent with the diagnostic: n_removed equals the dup_tok of
    the non-first regions."""
    from picoprobedataflow_spark.operators.dedup import (
        remove_duplicate_substrings,
    )
    import pytest as _pytest

    L = 5
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"),
         (1, "x y a b c d e f g z"),     # quotes a..g at offset 2
         (2, "p q r s t u"),
         (3, "m1 m2 m3 m4 m5 m1 m2 m3 m4 m5")],  # self-repeat
        ["doc_id", "text"])
    got = {r.doc_id: r for r in
           remove_duplicate_substrings(docs, min_len=L).collect()}
    # source doc 0 intact
    assert got[0].cleaned == "a b c d e f g h i j"
    assert got[0].n_removed == 0 and got[0].n_kept == 10
    # doc 1: positions 2..4 start dup windows (a..g run) -> tokens
    # 2..9 (a b c d e f g) minus... coverage = [2, 4+5) = [2,9):
    # a b c d e f g delete; x y z stay
    assert got[1].cleaned == "x y z"
    assert got[1].n_removed == 7 and got[1].n_kept == 3
    # doc 2 untouched
    assert got[2].cleaned == "p q r s t u"
    # doc 3: windows at 0..5; first occurrences are the window
    # CONTENTS' first keys — the second copy (positions 5..) is
    # non-first, coverage [5,10); the first five tokens survive
    assert got[3].cleaned == "m1 m2 m3 m4 m5"
    assert got[3].n_removed == 5 and got[3].n_kept == 5

    # non-integral ids rejected eagerly
    sdocs = spark.createDataFrame([("a", "x y z")],
                                  ["doc_id", "text"])
    with _pytest.raises(TypeError):
        remove_duplicate_substrings(sdocs, min_len=2)


def test_remove_duplicate_substrings_streaming_path_owns_no_cache(spark):
    """Round-14 review pin, same leak class as the contam/minhash
    ones: invoked per micro-batch (the substr stream), the op must
    own NO cache — the loop persists/unpersists the sigs frame it
    shares. The one-shot batch path (sigs=None) keeps its internal
    evictable tokenize by design (the minhash shared-vector
    convention), so only the sigs-supplied path is pinned."""
    from picoprobedataflow_spark.operators.dedup import (
        kmr_fingerprint_positions, remove_duplicate_substrings)

    docs = (spark.read
            .parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(40))
    sigs = kmr_fingerprint_positions(docs, 6)
    seen = spark.createDataFrame([("deadbeef",)], "sig string")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    remove_duplicate_substrings(docs, min_len=6, seen_sigs=seen,
                                sigs=sigs).collect()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    assert after - before == set()


def test_near_dup_survivors_order_col_policy(spark):
    """Keep-best-per-cluster (round 14): with order_col the cluster's
    highest-scoring member is canonical (NULL and NaN scores lose,
    min id breaks ties); default stays keep-min-id byte-for-byte;
    singletons keep themselves under both policies."""
    from picoprobedataflow_spark.operators.dedup import \
        near_dup_survivors

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, None),
         (5, float("nan")), (6, 0.1), (7, 0.5)],
        "doc_id long, q double")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "doc_a long, doc_b long")

    dflt = {r.doc_id: (r.canonical_id, r.keep) for r in
            near_dup_survivors(docs, edges).collect()}
    assert dflt == {1: (1, True), 2: (1, False), 3: (1, False),
                    4: (4, True), 5: (4, False), 6: (4, False),
                    7: (7, True)}

    byq = {r.doc_id: (r.canonical_id, r.keep) for r in
           near_dup_survivors(docs, edges, order_col="q").collect()}
    # cluster {1,2,3}: q 0.2/0.9/0.9 -> tie at 0.9, min id 2 wins;
    # cluster {4,5,6}: NULL/NaN/0.1 -> the only real score wins
    assert byq == {1: (2, False), 2: (2, True), 3: (2, False),
                   4: (6, False), 5: (6, False), 6: (6, True),
                   7: (7, True)}


def test_near_dup_survivors_order_col_edge_values(spark):
    """Review pins for the survivor policy: a genuine -inf score
    still beats NULL/NaN (no sentinel collision), and ids at the
    int64 extremes don't overflow the tiebreak (bitwise-NOT, not
    arithmetic negation)."""
    from picoprobedataflow_spark.operators.dedup import \
        near_dup_survivors

    docs = spark.createDataFrame(
        [(1, None), (2, float("-inf")), (3, float("nan"))],
        "doc_id long, q double")
    edges = spark.createDataFrame([(1, 2), (2, 3)],
                                  "doc_a long, doc_b long")
    byq = {r.doc_id: r.keep for r in
           near_dup_survivors(docs, edges, order_col="q").collect()}
    assert byq == {1: False, 2: True, 3: False}

    lo, hi = -(2 ** 63), 2 ** 63 - 1
    extremes = spark.createDataFrame(
        [(lo, 0.5), (hi, 0.5), (0, 0.1)], "doc_id long, q double")
    eedges = spark.createDataFrame([(lo, hi), (hi, 0)],
                                   "doc_a long, doc_b long")
    got = {r.doc_id: (r.canonical_id, r.keep) for r in
           near_dup_survivors(extremes, eedges,
                              order_col="q").collect()}
    # tie at 0.5 -> smaller id (Long.MIN) canonical, no overflow
    assert got[lo] == (lo, True)
    assert got[hi][1] is False and got[0][1] is False


def test_substring_dedup_plan_shape(spark):
    """The KMR fingerprint chain's load-bearing plan property: ALL
    O(log L) lead-windows (plus the sig combine) ride ONE doc-keyed
    Exchange + ONE Sort — per-level re-shuffles would multiply the
    dominant cost by the chain depth at corpus scale. Pinned via
    the formatted plan of the sig frame."""
    import re

    from picoprobedataflow_spark.operators.dedup import \
        kmr_fingerprint_positions

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    plan = (kmr_fingerprint_positions(docs, 12)
            ._jdf.queryExecution().executedPlan().toString())
    n_exch = len(re.findall(r"\bExchange\b", plan)) \
        - len(re.findall(r"ReusedExchange", plan))
    n_win = len(re.findall(r"\bWindow\b", plan))
    assert n_exch == 1, plan
    assert n_win >= 4                      # h2,h4,h8 + sig combine
    assert plan.count("Sort [") == 1, plan  # one sort, whole chain


def test_semantic_decontam_matches_numpy(spark):
    """Embedding decontam vs a numpy model: exact max cosine and
    argmax per corpus row (min bench id on rounded ties), threshold
    gates on the ROUNDED score, zero vectors don't divide by zero,
    and an empty bench flags nothing (rows survive with NULL
    scores... rather: no rows survive the inner broadcast join —
    the operator's contract is corpus×bench, so empty bench means
    an empty scoreboard, pinned)."""
    import numpy as np

    from picoprobedataflow_spark.operators.similarity import \
        semantic_decontam

    rng = np.random.default_rng(7)
    bvecs = rng.normal(size=(3, 8))
    cvecs = np.vstack([rng.normal(size=(5, 8)),
                       bvecs[1] * 2.0,          # exact dup, scaled
                       np.zeros(8)])            # zero vector
    bench = spark.createDataFrame(
        [(i, [float(x) for x in bvecs[i]]) for i in range(3)],
        "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(10 + i, [float(x) for x in cvecs[i]])
         for i in range(len(cvecs))],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           semantic_decontam(corpus, bench,
                             threshold=0.99).collect()}
    for i in range(len(cvecs) - 1):        # last row = zero vector
        v = cvecs[i]
        cos = np.round((bvecs @ v)
                       / (np.linalg.norm(bvecs, axis=1)
                          * np.linalg.norm(v)), 6)
        r = got[10 + i]
        assert abs(r.max_cosine - cos.max()) < 1e-12, i
        assert r.nearest_bench == int(cos.argmax()), i
        assert r.contaminated == bool(cos.max() >= 0.99), i
    # the scaled duplicate of bench vector 1 flags at ~1.0
    assert got[15].contaminated and got[15].nearest_bench == 1
    # zero vector: cosine undefined -> NULL score, NEVER flagged
    assert got[16].max_cosine is None
    assert got[16].contaminated is False

    empty_bench = bench.limit(0)
    assert semantic_decontam(corpus, empty_bench).count() == 0


def test_remove_frequent_lines_hand_model(spark):
    """Line-grain boilerplate removal (round 15): a nav-bar line
    stamped on N pages keeps ZERO copies; unique body lines are
    untouched; a line repeated only WITHIN one doc has df = 1 and
    survives; blank lines are exempt; the trimmed text is the match
    key but the untrimmed line is what survives; CRLF splits and
    cleaned re-joins with LF; NULL text passes through NULL."""
    from picoprobedataflow_spark.operators.dedup import \
        remove_frequent_lines

    nav = "HOME | ABOUT | CONTACT"
    docs = spark.createDataFrame(
        [(1, f"{nav}\nunique body one\n\nself echo\nself echo"),
         (2, f"  {nav}  \r\nunique body two"),     # trimmed key hits
         (3, f"{nav}\nunique body three\n   \nlast line"),
         (4, None),
         (5, "")],
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in remove_frequent_lines(docs, min_df=3).collect()}
    # nav stamped on 3 pages -> zero copies survive, first included
    assert out[1].cleaned == "unique body one\n\nself echo\nself echo"
    assert out[1].n_removed == 1 and out[1].n_kept == 4
    # intra-doc repeat: df = 1 (distinct docs), both copies kept
    assert out[1].cleaned.count("self echo") == 2
    # untrimmed variant matched via the trimmed key; CRLF split
    assert out[2].cleaned == "unique body two"
    assert out[2].n_removed == 1
    # whitespace-only line exempt and preserved verbatim
    assert out[3].cleaned == "unique body three\n   \nlast line"
    assert out[4].cleaned is None and out[4].n_kept == 0
    assert out[5].cleaned == "" and out[5].n_kept == 1
    # below the threshold nothing is touched
    out2 = {r.doc_id: r
            for r in remove_frequent_lines(docs, min_df=4).collect()}
    assert out2[1].n_removed == 0
    assert out2[2].cleaned == f"  {nav}  \nunique body two"


def test_chi2_single_shared_category_and_top_k_one(spark):
    """Round-15 degenerate battery: (a) ref and cur sharing ONE
    category — the statistic is defined and exactly zero (perfect
    homogeneity), df = 0; (b) top_k=1 — the table collapses to the
    kept winner + __other__, the winner chosen by count with the
    category value breaking ties deterministically, and a
    new-at-cur category rolls into __other__ instead of minting a
    row; (c) top_k=1 with an all-tied reference — the
    lexicographically first category wins."""
    from picoprobedataflow_spark.operators.drift import chi2_report

    one = lambda rows: spark.createDataFrame(rows, "cat string")
    # (a) single shared category
    out = chi2_report(one([("x",)] * 5), one([("x",)] * 3),
                      "cat").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.category, r.n_ref, r.n_cur) == ("x", 5, 3)
    assert r.chi2_term == 0.0 and r.e_cur == 3.0
    # (b) top_k=1: winner kept, tail + new-at-cur rolled
    ref = one([("a",)] * 6 + [("b",)] * 2 + [("c",)])
    cur = one([("a",)] * 3 + [("b",)] * 2 + [("new",)] * 2)
    got = {r.category: r for r in
           chi2_report(ref, cur, "cat", top_k=1).collect()}
    assert set(got) == {"a", "__other__"}
    assert (got["a"].n_ref, got["a"].n_cur) == (6, 3)
    assert (got["__other__"].n_ref, got["__other__"].n_cur) == (3, 4)
    # terms sum to the exact 2x2 hand value
    tr, tc, g = 9, 7, 16
    exp = 0.0
    for nr, nc in ((6, 3), (3, 4)):
        er, ec = tr * (nr + nc) / g, tc * (nr + nc) / g
        exp += (nr - er) ** 2 / er + (nc - ec) ** 2 / ec
    assert abs(sum(r.chi2_term for r in got.values()) - exp) < 1e-6
    # (c) all-tied reference: lexicographic winner
    tied = one([("zeta",), ("alpha",), ("mid",)])
    got2 = {r.category for r in
            chi2_report(tied, tied, "cat", top_k=1).collect()}
    assert got2 == {"alpha", "__other__"}


def test_pagerank_prebuilt_equals_from_scratch(spark):
    """pagerank(prebuilt=True) over a pre-deduped/materialized edge
    frame is BIT-IDENTICAL to the from-scratch build (distinct of a
    distinct is the identity; partitioning never touches the
    arithmetic) — uniform AND seeded, with duplicate raw edges and
    dangling nodes in play; the weighted mode rejects prebuilt."""
    import pytest
    from pyspark.sql import functions as F

    from picoprobedataflow_spark.operators.graph import pagerank

    raw = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 0), (3, 0), (0, 3), (4, 4)],
        "src long, dst long")
    pre = (raw.select("src", "dst").distinct()
           .repartition("src").localCheckpoint(eager=True))
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    for kw in ({}, {"seeds": seeds},
               {"init_ranks": spark.createDataFrame(
                   [(0, 0.5), (1, 0.5)], "node long, pr double")}):
        a = {r.node: (r.outdeg, r.pr)
             for r in pagerank(raw, n_iter=3, round_digits=None,
                               **kw).collect()}
        b = {r.node: (r.outdeg, r.pr)
             for r in pagerank(pre, n_iter=3, round_digits=None,
                               prebuilt=True, **kw).collect()}
        assert a == b, kw
    with pytest.raises(ValueError, match="unweighted-only"):
        pagerank(pre.withColumn("w", F.lit(1.0)), weight_col="w",
                 prebuilt=True)


def test_graph_ops_shared_prebuilt_contract(spark):
    """Round 17: the prebuilt contract generalized across all three
    link analyses through one _built_edges implementation — a
    pipeline builds its crawl graph ONCE and hands the materialized
    frame to pagerank + hits + spam_mass, each bit-identical to its
    own internal build, and each rejecting a duplicate-bearing
    frame loudly under verify_prebuilt."""
    import pytest as _pytest

    from picoprobedataflow_spark.operators.graph import (
        hits, pagerank, spam_mass)

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
         ("d", "a"), ("a", "b")],                  # dup (a, b)
        "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    graph = (edges.distinct().repartition("src")
             .localCheckpoint(eager=True))

    for fn, kw in ((pagerank, {}), (hits, {}),
                   (spam_mass, {"seeds": seeds})):
        cold = {tuple(r) for r in fn(edges, n_iter=3, **kw).collect()}
        warm = {tuple(r) for r in
                fn(graph, n_iter=3, prebuilt=True,
                   verify_prebuilt=True, **kw).collect()}
        assert cold == warm, fn.__name__
        with _pytest.raises(ValueError, match="duplicate"):
            fn(edges, n_iter=1, prebuilt=True,
               verify_prebuilt=True, **kw)

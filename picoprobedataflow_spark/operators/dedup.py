"""Deduplication operators for large-scale text corpora: exact
(hash-groupBy), n-gram Jaccard (shingle join), MinHash + LSH banding,
and SimHash with byte-chunk candidate generation.

Everything is expressed as DataFrame compositions over JVM built-ins —
no Python UDFs — so the operators shuffle only where semantically
required and survive Catalyst optimization:

- exact dedup: one hash aggregate on the fingerprint.
- Jaccard: shingle-equality self-join (index join, not O(n²) cross
  product); ``max_df`` drops stop-shingles, which is what bounds the
  join fan-out at corpus scale.
- MinHash: a ROW-LOCAL higher-order fold (shingle → base hash →
  element-wise min across the affine family) — signatures and band
  keys are a pure map over the corpus scan, zero shuffle.
- LSH banding: signature concat per band, equality join on
  (band, band_signature) — candidate pairs only, never all pairs.
- SimHash: one row-local fold per doc (see simhash_signatures),
  candidates via the pigeonhole
  byte-chunk trick (hamming ≤ 3×(chunks-1) guaranteed recall 1 for
  ham ≤ chunks-1 … standard Manku et al. WWW'07 construction).

Hashes are the portable md5-based 64-bit hash
(:func:`..functions.scalar.portable_hash64`) so the DuckDB oracle can
reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.functions.scalar import portable_hash64
from picoprobedataflow_spark.functions.text import fingerprint_md5, words

#: Signature of the pluggable token/shingle hash. Default everywhere is
#: :func:`..functions.scalar.portable_hash64` (oracle-reproducible);
#: pass :func:`..functions.scalar.fast_hash64` for the xxhash64 scale
#: path (~2× faster vote/signature aggregates, not oracle-checkable).
HashFn = Callable[[Column], Column]


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       fingerprint: Column | None = None) -> DataFrame:
    """(fingerprint, n_docs, canonical_id): one row per distinct text.
    ``canonical_id`` = min id, the survivor under keep-first policy.
    ``fingerprint`` swaps the raw-byte md5 for another row-local key
    (e.g. :func:`..functions.text.fingerprint_normalized` for
    case/whitespace-insensitive dedup) without changing the
    one-hash-agg shape."""
    fp = fingerprint if fingerprint is not None \
        else fingerprint_md5(text_col)
    return (docs.groupBy(fp.alias("fingerprint"))
                .agg(F.count("*").alias("n_docs"),
                     F.min(id_col).alias("canonical_id")))


def exact_dup_mapping(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id) for every non-survivor duplicate."""
    groups = exact_dedup_groups(docs, text_col, id_col)
    withfp = docs.select(F.col(id_col),
                         fingerprint_md5(text_col).alias("fingerprint"))
    return (withfp.join(groups.filter(F.col("n_docs") > 1), "fingerprint")
                  .filter(F.col(id_col) != F.col("canonical_id"))
                  .select(id_col, "canonical_id"))


# --------------------------------------------------------------------------
# Shingles & n-gram Jaccard
# --------------------------------------------------------------------------

def _shingle_array(toks_col: str, k: int) -> Column:
    """The row-local k-gram string array over a materialized token
    array column — the ONE definition of the load-bearing totality
    clamp (factored in round 12; four call sites had copy-pasted
    it). greatest(.., 1): explode consumers make
    InferFiltersFromGenerate push a size>0 predicate under the
    projection, and codegen CSE then evaluates this transform on
    PRE-filter rows — so the expression must be total
    (sequence(1, <=0) descends through 0 and slice(_, 0, k) throws).
    Sub-k-token rows build one junk shingle and must be dropped by
    the caller's size >= k conjunct. Rejects ``k < 1`` here, at the
    one shared root of every shingle consumer (round-17 battery,
    reproduced live): k=0 made every shingle the EMPTY STRING, so
    completely unrelated documents reported jaccard/est_jaccard 1.0
    — a dedup pass would have deleted the whole corpus as
    duplicates, silently."""
    if k < 1:
        raise ValueError(f"shingle width k must be >= 1, got {k}")
    return F.transform(
        F.sequence(F.lit(1),
                   F.greatest(F.size(toks_col) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks_col, i, k)))


def shingle_table(docs: DataFrame, k: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct k-word shingles, long form: (doc_id, shingle).

    Row-local construction (round 7): the token array materializes
    once per row, the shingle-string array once more in its own
    projection (never index the token array inside a later lambda —
    HOFs sit outside codegen subexpression elimination, so the regex
    split re-runs per element, measured ~6× slower), then
    ``array_distinct`` dedupes WITHIN the doc — which is exactly what
    the (doc_id, shingle) global ``distinct`` did, since doc_id is in
    the key. The previous formulation (posexplode + window ``lead`` +
    global distinct) shuffled |shingles| rows twice before the first
    consumer ever saw them; this one is explode-only — zero shuffles,
    output row-identical (exceptAll both ways = 0 at sf0.1). Docs with
    fewer than k tokens yield no shingles."""
    d = (docs.select(F.col(id_col), words(text_col).alias("_toks"))
             .filter(F.size("_toks") >= k))
    d = d.select(F.col(id_col), _shingle_array("_toks", k).alias("_sh"))
    return d.select(F.col(id_col),
                    F.explode(F.array_distinct("_sh")).alias("shingle"))


def winnow_fingerprints(docs: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, fp): winnowed document fingerprints — the MOSS
    algorithm (Schleimer, Wilkerson & Aiken, "Winnowing: Local
    Algorithms for Document Fingerprinting", SIGMOD 2003): hash every
    k-token gram, slide a window of ``w`` consecutive gram hashes,
    select the window MINIMUM (leftmost on ties — fixed here so the
    selection is a pure function of the text and a DuckDB oracle can
    replay it), dedupe the selections. Guarantee: any shared run of
    ≥ w+k-1 tokens between two documents shares at least one
    selected fingerprint, while only ~2/(w+1) of gram hashes are
    kept — position-robust partial-overlap detection at a fraction
    of the full shingle table's size (the shingle join's candidate
    generator, downsampled with a guarantee instead of randomly).

    Scale shape: tokenization, gram hashing and window selection are
    ALL row-local array ops (the token array materializes once per
    row; no per-element re-split) — the only shuffle is the final
    distinct on (doc_id, pos, fp). Docs with fewer than w+k-1 tokens
    select nothing (no full window exists). ``pos`` is the 1-based
    gram position, so matches can be located in the source text.
    ``k < 1`` / ``w < 1`` reject (the _shingle_array guard class:
    zero-width grams hash the empty string everywhere — silent
    all-match garbage)."""
    if k < 1 or w < 1:
        raise ValueError(
            f"winnow needs k >= 1 and w >= 1 (got k={k}, w={w})")
    d = docs.select(F.col(id_col), words(text_col).alias("_toks"))
    ng = F.size("_toks") - (k - 1)
    gram_idx = (F.when(ng >= 1, F.sequence(F.lit(1), ng))
                 .otherwise(F.array().cast("array<int>")))
    d = d.select(
        F.col(id_col),
        F.transform(
            gram_idx,
            lambda i: portable_hash64(
                F.concat_ws(" ", F.slice("_toks", i, k)))).alias("_hs"))
    m = F.size("_hs") - (w - 1)
    win_idx = (F.when(m >= 1, F.sequence(F.lit(1), m))
                .otherwise(F.array().cast("array<int>")))
    # Two-step selection: bind each window's slice and its min ONCE
    # in an intermediate struct, then derive (pos, fp) from the
    # bound fields. Higher-order-function lambdas get no codegen
    # subexpression elimination (the ~6x pathology shingle_table's
    # docstring measures), and the old single lambda materialized
    # the w-element slice three times and scanned it for the min
    # twice per window (round-12 review find).
    bound = F.transform(
        win_idx,
        lambda s: F.struct(s.alias("s"),
                           F.slice("_hs", s, w).alias("win")))
    bound = F.transform(
        bound,
        lambda t: F.struct(t.s.alias("s"), t.win.alias("win"),
                           F.array_min(t.win).alias("mn")))
    sel = F.transform(
        bound,
        lambda t: F.struct(
            (t.s.cast("long") + F.array_position(t.win, t.mn)
             - 1).alias("pos"),
            t.mn.alias("fp")))
    return (d.select(F.col(id_col), F.explode(sel).alias("u"))
             .select(id_col, F.col("u.pos").alias("pos"),
                     F.col("u.fp").alias("fp"))
             .distinct())


def jaccard_pairs(docs: DataFrame | None, k: int = 3,
                  threshold: float = 0.8,
                  text_col: str = "text", id_col: str = "doc_id",
                  max_df: int | None = None,
                  shingles: DataFrame | None = None,
                  shingle_hash: HashFn | None = None) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold.

    |A∩B| comes from the shingle-equality self-join; |A∪B| =
    |A|+|B|−|A∩B|. ``max_df`` (document frequency cap) drops
    stop-shingles before the join — at corpus scale this is the knob
    that keeps the join linear-ish; exact mode (None) is for oracles.
    Pass a prebuilt ``shingles`` table to share the tokenize cost with
    other shingle consumers (e.g. minhash over the same corpus, or
    the round-7 persisted serving table — ``docs`` may then be None).

    ``shingle_hash`` (e.g. ``fast_hash64``) switches the production
    path: shingles become 64-bit ids in the row-local build map
    (``array_distinct`` AFTER hashing, so sizes and intersections are
    exact set counts over ids) and the raw k-gram strings never enter
    a shuffle — the self-join exchanges 8-byte longs instead of
    multi-word strings, measured ~30% faster at sf0.1 and a several-×
    shuffle-byte cut at corpus scale. Jaccard is then over hashed
    shingle sets (64-bit collisions are negligible and deterministic);
    the default string path stays the oracle-exact mode."""
    if shingles is not None:
        sh = shingles
        if shingle_hash is not None:
            sh = (sh.select(F.col(id_col),
                            shingle_hash(F.col("shingle"))
                            .alias("shingle"))
                    .dropDuplicates())
    elif shingle_hash is None:
        sh = shingle_table(docs, k, text_col, id_col)
    else:
        d = (docs.select(F.col(id_col), words(text_col).alias("_toks"))
                 .filter(F.size("_toks") >= k))
        d = d.select(F.col(id_col),
                     _shingle_array("_toks", k).alias("_sh"))
        sh = d.select(
            F.col(id_col),
            F.explode(F.array_distinct(
                F.transform("_sh", lambda s: shingle_hash(s))))
             .alias("shingle"))
    # sh feeds several consumers (df cap + sizes + both join sides);
    # persist so the tokenize→shingle map runs once, not per consumer.
    # MEMORY_ONLY, not the spilling default: the blocks are only hot
    # for the seconds this query runs, and under storage pressure the
    # LRU simply drops them (recompute, no disk leak) — so repeated
    # catalog/bench invocations in one long-lived driver session stay
    # bounded. Guard on IDENTITY, not `shingles is None`: a
    # caller-provided table is pre-materialized, but the hashed
    # re-derivation on top of it (hash + dropDuplicates — a full
    # shuffle) is ours and was re-running once per consumer under
    # the old None-guard (round-12 review find).
    if sh is not shingles:
        sh = sh.persist(StorageLevel.MEMORY_ONLY)
    if max_df is not None:
        # Drop-side anti-join, not keep-side semi-join: the df cap
        # keeps almost every shingle (Zipf — only the head crosses
        # max_df), so joining against `keep` shuffles the FULL shingle
        # table both sides, while the complement `drop` set is a small
        # stop-shingle list that broadcasts — the cap becomes a
        # map-side filter. Identical semantics (df ≥ 1 partitions
        # every shingle into exactly one of the two sets).
        drop = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
                  .filter(F.col("df") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(drop), "shingle", "left_anti")
        # The CAPPED table feeds three consumers (sizes + both join
        # sides). The persist above only covers the raw shingles, so
        # without one here the df aggregate and the anti-join re-run
        # once per consumer — the round-17 before-plan shows FOUR
        # copies of the cap subtree (one per self-join side, two
        # under sizes). One corpus-scale aggregate instead of four;
        # MEMORY_ONLY, evictable, the same posture as the raw persist.
        sh = sh.persist(StorageLevel.MEMORY_ONLY)
    # Round 18 note (VERDICT r17 #5): two rewrites of the sizes
    # aggregate were implemented, proven row-identical, and A/B'd
    # interleaved at sf0.1 — (a) n_shingles attached to the shingle
    # rows at cap time and folded into the pair aggregate with
    # first(), removing both pair-table joins (10-17% LOSS: the
    # joined persist re-evaluates the cap subtree at build, and the
    # removed joins were cheap broadcasts here); (b) this aggregate
    # persisted so its two join consumers share one pass (one 13-17%
    # win, then a wash/slight loss over 10 passes — noise-dominated).
    # Both reverted; the two-consumer aggregate over the capped cache
    # stays the measured-best local shape.
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
               .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                        F.col(f"b.{id_col}").alias("doc_b"))
               .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_shingles").alias("n_b"))
    jac = (F.col("n_common")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (common.join(sa, "doc_a").join(sb, "doc_b")
                  .withColumn("jaccard", jac)
                  .filter(F.col("jaccard") >= threshold)
                  .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"))


def containment_pairs(docs: DataFrame | None, k: int = 3,
                      threshold: float = 0.8,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      max_df: int | None = None,
                      shingles: DataFrame | None = None,
                      shingle_hash: HashFn | None = None) -> DataFrame:
    """Pairs with shingle-set CONTAINMENT ≥ threshold — the
    asymmetric near-dup rule, max(|A∩B|/|A|, |A∩B|/|B|). Symmetric
    Jaccard misses a short document swallowed whole by a longer one
    (|A∩B|/|A∪B| is dragged toward zero by the size gap: a tweet
    quoted inside a 10k-token page has Jaccard ≈ 0.01 but
    containment 1.0), and that swallow pattern is exactly how quoted
    boilerplate and syndicated articles duplicate in a crawl.

    Same machinery, same scale shape as :func:`jaccard_pairs`
    (shingle-equality join, max_df stop-shingle cap, hashed-shingle
    production path) — only the final filter differs, so every knob
    and bound documented there applies verbatim."""
    base = jaccard_pairs(docs, k, 0.0, text_col, id_col,
                         max_df, shingles, shingle_hash)
    cont = F.greatest(F.col("n_common") / F.col("n_a"),
                      F.col("n_common") / F.col("n_b"))
    # Filter on the UNROUNDED value, round only in the output — the
    # first cut filtered the 6-dp rounding, quantizing the decision
    # boundary (a true 0.7999998 rounded to 0.8 and passed a 0.8
    # threshold; jaccard_pairs and the DuckDB oracle both gate
    # unrounded — round-12 review find).
    return (base
            .filter(cont >= threshold)
            .select("doc_a", "doc_b", "n_common", "n_a", "n_b",
                    F.round(cont, 6).alias("containment")))


def contamination_overlap(train_docs: DataFrame | None = None,
                          bench_docs: DataFrame | None = None,
                          k: int = 3, text_col: str = "text",
                          id_col: str = "doc_id",
                          threshold: float = 0.0,
                          train_shingles: DataFrame | None = None,
                          bench_shingles: DataFrame | None = None
                          ) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction
    of its distinct k-word shingles that occur ANYWHERE in a held-out
    benchmark corpus — the n-gram-overlap check LLM pipelines run
    before training so eval data doesn't leak into the train set.
    Returns (doc_id, n_shingles, n_overlap, overlap_frac) for docs
    with overlap_frac ≥ ``threshold`` (0.0 keeps every doc).

    Scale shape: the benchmark shingle UNIVERSE is deduped to one row
    per shingle, then matched with a shingle-equality LEFT SEMI join —
    bucketed by shingle like every other generator here, never
    doc×doc. Benchmark corpora are tiny next to training corpora, so
    AQE broadcasts the semi join's right side; the two aggregates are
    doc_id-keyed (skew-free). Pass prebuilt ``*_shingles`` tables to
    share tokenization with other shingle consumers."""
    tr = train_shingles if train_shingles is not None \
        else shingle_table(train_docs, k, text_col, id_col)
    bs = (bench_shingles if bench_shingles is not None
          else shingle_table(bench_docs, k, text_col, id_col))
    bench_universe = bs.select("shingle").distinct()
    sizes = tr.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (tr.join(bench_universe, "shingle", "left_semi")
              .groupBy(id_col).agg(F.count("*").alias("n_overlap")))
    frac = F.col("n_overlap") / F.col("n_shingles")
    return (sizes.join(hits, id_col, "left")
            .na.fill({"n_overlap": 0})
            .filter(frac >= threshold)
            .select(id_col, "n_shingles", "n_overlap",
                    F.round(frac, 6).alias("overlap_frac")))


def bloom_bits(values: DataFrame, col: str = "shingle",
               num_bits: int = 1 << 20,
               num_hashes: int = 5) -> list[int]:
    """Build a Bloom filter over ``values[col]`` as a plain Python
    list of ``ceil(num_bits/64)`` int64 words (Kirsch-Mitzenmacher-
    style probes: position i = xxhash64(i, value) mod num_bits — the
    per-probe seed rides inside the hash input, so each probe is an
    independent full hash, JVM-side).

    Scale shape: one explode (num_hashes rows per value), one
    ``bit_or`` hash aggregate keyed by the 64-bit word index, one
    driver collect BOUNDED by the filter size (num_bits/64 rows max,
    16K longs at the 1 MiB default) — the same bounded-collect
    pattern as the k-means centroid hops. The aggregate's map-side
    partial ORs mean the shuffle carries at most num_bits/64 rows
    per task regardless of |values|. Sizing: ~10 bits/key ≈ 1% false
    positives at num_hashes=5; callers that gate EXACT results
    (contamination_overlap_bloom) only pay fp-rate in wasted verify
    work, never in correctness."""
    p = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.pmod(F.xxhash64(i, F.col(col)),
                         F.lit(num_bits)))).alias("p")
    rows = (values.select(p)
            .select(F.shiftright(F.col("p"), 6).alias("w"),
                    F.call_function("shiftleft", F.lit(1).cast("long"),
                                    (F.col("p") % 64).cast("int"))
                     .alias("bit"))
            .groupBy("w").agg(F.bit_or("bit").alias("bits"))
            .collect())
    out = [0] * ((num_bits + 63) // 64)
    for r in rows:
        out[r.w] = r.bits
    return out


def _bloom_probe_cond(word_src: Column, c: Column, num_bits: int,
                      num_hashes: int) -> Column:
    """AND of the ``num_hashes`` bit probes against a word array —
    UNROLLED into plain conjuncts, never a ``forall`` over a
    ``sequence``. The unrolling is load-bearing: higher-order
    functions are interpreted-only (no codegen), and when Catalyst
    pushes the probe into a BroadcastNestedLoopJoin condition an HOF
    there drops the whole join out of codegen — measured 42.5 s vs
    0.4 s (~100×) for the identical probe at 2^24 bits over 260 K
    rows on local[32]. ``num_hashes`` is a Python int, so the
    conjunction is known at plan-build time; each conjunct is
    two-op codegen intrinsics end to end. The ``F.lit(i)`` probe
    seeds are INT literals, matching the int-typed ``sequence``
    lambda variable in :func:`bloom_bits`'s build (xxhash64 hashes
    int and bigint inputs differently — the seed types must agree
    or probes read garbage)."""
    cond = None
    for i in range(num_hashes):
        p = F.pmod(F.xxhash64(F.lit(i), c), F.lit(num_bits))
        word = F.element_at(
            word_src, (F.shiftright(p, 6) + 1).cast("int"))
        hit = (F.call_function("shiftright", word,
                               (p % 64).cast("int"))
               .bitwiseAND(F.lit(1)) == 1)
        cond = hit if cond is None else cond & hit
    return cond


def bloom_contains(bits: list[int], col: Column | str,
                   num_bits: int, num_hashes: int = 5) -> Column:
    """Membership test against a :func:`bloom_bits` filter: true iff
    every probe bit is set (no false negatives; false positives at
    the filter's design rate). The word array ships as ONE array
    literal inside the expression — a map-side test with zero joins,
    the same literal-LUT pattern as the PQ codebook lookups. All
    JVM-side: xxhash64 probes, element_at word fetch, shiftright bit
    extract, unrolled conjuncts (see :func:`_bloom_probe_cond` — an
    HOF here is interpreted-only and ~100× slower once pushed into a
    join condition).

    Transport caveat: the literal rides the EXPRESSION TREE — it is
    serialized into every task binary referencing it and hashed into
    plan canonicalization. Fine at the 1 MiB default (16 K longs);
    ruinous at GB-scale filters. Large universes must use
    :func:`bloom_filter_df` + :func:`bloom_prefilter`, where the words
    ride a real BroadcastExchange (``contamination_overlap_bloom``'s
    ``transport="auto"`` picks the cutover)."""
    # Explicit array<bigint>: when every word happens to fit int32,
    # F.lit infers ArrayType(IntegerType) and shiftright masks the
    # shift amount mod 32, corrupting probes of bit positions >= 32.
    blit = F.lit(bits).cast("array<bigint>")
    c = F.col(col) if isinstance(col, str) else col
    return _bloom_probe_cond(blit, c, num_bits, num_hashes)


#: Literal-vs-broadcast transport cutover for ``transport="auto"``:
#: filters at or under this many BITS ship as an expression-tree array
#: literal (zero joins, measured faster for small filters); above it
#: the words ride a real BroadcastExchange via :func:`bloom_prefilter`.
#: 2^23 bits = 1 MiB of words — comfortably inside task-binary budgets;
#: the plan-embedded literal pattern collapses well before GB scale.
BLOOM_LITERAL_MAX_BITS = 1 << 23

#: ``num_bits="auto"`` sizing (round 12): ~10 bits per estimated
#: distinct key ≈ 1% false positives at 5 probes (the fp rate only
#: costs wasted verify work — outputs are exact either way). Keys are
#: estimated from the universe's Catalyst size at ~32 bytes per
#: distinct-shingle row, rounded up to a power of two and clamped to
#: [2^16, 2^33] (8 KiB literal floor; 1 GiB-of-words ceiling — at
#: 2^34 the broadcast transport's single-row words ARRAY would hit
#: 2^28 bigints = 2 GiB, over Spark's per-value UnsafeRow limit, so
#: the build itself would crash at exactly the 1e9-shingle scale it
#: exists for — round-12 review find; 2^33 still gives ~8 bits/key
#: at 1e9 keys ≈ 3% fp, which only costs verify work). A fixed
#: default was the old footgun in the other direction: 2^20 bits
#: saturates uselessly against a 1e9-key universe (fp → 1, the
#: prefilter passes everything). Sources with no real stats fall
#: back to the old 2^20 default rather than the ceiling — a huge
#: sentinel estimate must not conjure a 1 GiB filter for a tiny
#: in-memory corpus. The sentinel bar sits at 2^60, NOT just above
#: real data sizes: Catalyst estimates are multiplicative upper
#: bounds and a join-heavy universe plan can legitimately estimate
#: past 2^50 — only the defaultSizeInBytes/error sentinels (≥ 2^62)
#: mean "unknown" (second round-12 review find).
BLOOM_BITS_PER_KEY = 10
BLOOM_ROW_BYTES_EST = 32
BLOOM_MIN_BITS = 1 << 16
BLOOM_MAX_BITS = 1 << 33
_STATS_UNKNOWN_BYTES = 1 << 60


def _auto_num_bits(universe: DataFrame) -> int:
    """Statistics-sized Bloom width for ``num_bits="auto"``."""
    est = _plan_size_bytes(universe)
    if est >= _STATS_UNKNOWN_BYTES:
        return 1 << 20
    want = max(1, est // BLOOM_ROW_BYTES_EST) * BLOOM_BITS_PER_KEY
    n = BLOOM_MIN_BITS
    while n < want and n < BLOOM_MAX_BITS:
        n <<= 1
    return n


def bloom_filter_df(values: DataFrame, col: str = "shingle",
                    num_bits: int = 1 << 20,
                    num_hashes: int = 5) -> DataFrame:
    """:func:`bloom_bits` built FULLY DISTRIBUTED — a 1-row DataFrame
    ``(bf array<bigint>)`` holding the same words, which never touch
    the driver: a ``range(nwords)`` scan left-joins the sparse per-word
    ``bit_or`` aggregate (zero-filling the gaps), and the dense rows
    fold into one sorted array, so a GB-scale filter is built and
    shipped without a single driver collect or plan literal.

    The densify step is deliberately a JOIN, not a map lookup: the
    earlier formulation folded the sparse words into a single-row MAP
    and filled the dense array with ``element_at`` per index — but
    Spark's map ``element_at`` (GetMapValue over ArrayBasedMapData) is
    a LINEAR key scan, making that fill O(nwords²): fine at the 16 K
    words where it was first tested, a multi-minute stall at 2^24 bits
    and effectively a hang at the GB sizings this transport exists
    for. The range join is O(nwords) work distributed across the
    cluster; the only single-row step left is the final
    ``array_sort(collect_list(...))`` fold — O(n log n) on the data
    that must become one broadcast row anyway.

    Probe with :func:`bloom_prefilter`, which broadcasts this one row;
    word layout and probe scheme are bit-identical to
    :func:`bloom_bits`/:func:`bloom_contains` (equality-pinned)."""
    nwords = (num_bits + 63) // 64
    p = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.pmod(F.xxhash64(i, F.col(col)),
                         F.lit(num_bits)))).alias("p")
    word_rows = (values.select(p)
                 .select(F.shiftright(F.col("p"), 6).alias("w"),
                         F.call_function("shiftleft",
                                         F.lit(1).cast("long"),
                                         (F.col("p") % 64).cast("int"))
                          .alias("bit"))
                 .groupBy("w").agg(F.bit_or("bit").alias("bits")))
    dense = (values.sparkSession.range(nwords)
             .select(F.col("id").alias("w"))
             .join(word_rows, "w", "left")
             .select("w", F.coalesce("bits", F.lit(0).cast("long"))
                     .alias("bits")))
    return (dense
            .agg(F.array_sort(F.collect_list(F.struct("w", "bits")))
                 .alias("s"))
            .select(F.transform(F.col("s"), lambda e: e.bits)
                    .alias("bf")))


def bloom_prefilter(df: DataFrame, col: str, bloom_df: DataFrame,
                    num_bits: int, num_hashes: int = 5) -> DataFrame:
    """Keep rows of ``df`` whose ``col`` MIGHT be in the filter (no
    false negatives) — the production transport: the word array rides
    a 1-row BroadcastExchange (broadcast nested-loop join), NOT the
    expression tree, so the plan stays O(1) bytes however big the
    filter is and executors fetch the words once via torrent
    broadcast. The probe condition is pushed into the join condition
    (plan-verified), so non-members never materialize; the final
    projection drops the array column so output rows never carry it.
    Same probe scheme as :func:`bloom_contains`; the probes are
    unrolled conjuncts (:func:`_bloom_probe_cond`) because Catalyst
    pushes this filter into the join condition, where a ``forall``
    HOF is interpreted-only and was measured ~100× slower."""
    cond = _bloom_probe_cond(F.col("__bf"), F.col(col),
                             num_bits, num_hashes)
    return (df.join(F.broadcast(bloom_df.select(
                F.col("bf").alias("__bf"))))
            .filter(cond).drop("__bf"))


def contamination_overlap_bloom(train_docs: DataFrame | None = None,
                                bench_docs: DataFrame | None = None,
                                k: int = 3, text_col: str = "text",
                                id_col: str = "doc_id",
                                threshold: float = 0.0,
                                num_bits: int | str = "auto",
                                num_hashes: int = 5,
                                train_shingles: DataFrame | None = None,
                                bench_shingles: DataFrame | None = None,
                                bits: list[int] | None = None,
                                bloom_df: DataFrame | None = None,
                                bench_universe: DataFrame | None = None,
                                transport: str = "auto") -> DataFrame:
    """:func:`contamination_overlap` with a Bloom prefilter on the
    hit side — EXACT results (row-identical, pytest + hash-gate
    pinned), different 100 TB shape.

    The exact gate's LEFT SEMI join relies on the benchmark shingle
    universe being broadcastable; when the "benchmark" is itself
    large (decontaminating against a prior training corpus, a
    multi-suite eval union), the semi join reshuffles the ENTIRE
    training shingle table on the shingle key. Here the bench
    universe compresses to ~10 bits/shingle of Bloom words
    (:func:`bloom_bits`, an order of magnitude under any exact
    broadcast set), the training shingles are tested MAP-SIDE, and
    only the survivors — true hits plus the ~1% false-positive
    residue — enter the exact semi join that removes the false
    positives. Per-doc totals (``n_shingles``) still count the
    unfiltered table, so the output is identical to the exact gate;
    the train-side shuffle shrinks from |train shingles| to
    |hits| + fp·|train shingles|. No false negatives by Bloom
    construction, so no recall caveat.

    Transport (the 100 TB lever): ``"literal"`` embeds the words in
    the probe expression (:func:`bloom_contains` — zero joins, fastest
    for small filters, but the array serializes into every referencing
    task binary); ``"broadcast"`` builds the filter fully distributed
    (:func:`bloom_filter_df`, no driver collect) and ships it via a
    real 1-row BroadcastExchange (:func:`bloom_prefilter`) — the only
    shape that survives the large-universe sizing this gate exists
    for (1e9 shingles ≈ 1.25 GB of words must never be a plan
    literal). ``"auto"`` cuts over at :data:`BLOOM_LITERAL_MAX_BITS`.
    Both transports are probe-identical (equality-pinned on a
    collision-heavy filter) and the exact verify join makes the final
    output transport-invariant either way. ``num_bits="auto"`` (the
    round-12 default) sizes the filter from the universe's Catalyst
    estimate at ~:data:`BLOOM_BITS_PER_KEY` bits/key — a fixed width
    was the inverse footgun: 2^20 bits saturates against a 1e9-key
    universe and the prefilter passes everything. Prebuilt
    ``bits``/``bloom_df`` hooks must pass the explicit width they
    were built with (enforced — a mismatched probe width would lose
    the no-false-negatives guarantee).

    Amortization hooks for callers gating many batches against one
    static benchmark (the streaming gate): ``bits`` (prebuilt
    :func:`bloom_bits` array, forces literal transport), ``bloom_df``
    (prebuilt — ideally checkpointed — :func:`bloom_filter_df` row,
    forces broadcast transport), and ``bench_universe`` (prebuilt,
    caller-persisted distinct shingle universe). This op owns NO cache
    (round-9 fix: the old per-call MEMORY_ONLY persist of the universe
    outlived every call and accumulated one cache-manager entry per
    micro-batch in the streaming gate): without hooks the distinct
    universe is computed twice per action — once feeding the filter
    build, once in the verify join — and callers gating many batches
    amortize all of it by passing the hooks, as
    :func:`..streaming.quality.contam_gate_stream` does."""
    if transport not in ("auto", "literal", "broadcast"):
        raise ValueError(f"unknown transport {transport!r}")
    tr = train_shingles if train_shingles is not None \
        else shingle_table(train_docs, k, text_col, id_col)
    bs = (bench_shingles if bench_shingles is not None
          else shingle_table(bench_docs, k, text_col, id_col))
    universe = (bench_universe if bench_universe is not None
                else bs.select("shingle").distinct())
    if num_bits == "auto":
        # Round 12: size the filter from the universe's Catalyst
        # estimate (~10 bits/key) instead of a fixed width — a fixed
        # 2^20 saturates against a 1e9-key universe and the prefilter
        # stops filtering. A prebuilt filter carries its own width:
        # probing it at a different num_bits silently loses the
        # no-false-negatives guarantee, so hooks demand the explicit
        # width they were built with.
        if bits is not None or bloom_df is not None:
            raise ValueError(
                "prebuilt bits/bloom_df require the explicit num_bits "
                "they were built with (num_bits='auto' would probe at "
                "a different width -> false negatives)")
        num_bits = _auto_num_bits(universe)
    if bits is not None:
        transport = "literal"
    elif bloom_df is not None:
        transport = "broadcast"
    elif transport == "auto":
        transport = ("literal" if num_bits <= BLOOM_LITERAL_MAX_BITS
                     else "broadcast")
    if transport == "literal":
        if bits is None:
            bits = bloom_bits(universe, "shingle",
                              num_bits, num_hashes)
        pre = tr.filter(bloom_contains(bits, "shingle",
                                       num_bits, num_hashes))
    else:
        if bloom_df is None:
            bloom_df = bloom_filter_df(universe, "shingle",
                                       num_bits, num_hashes)
        pre = bloom_prefilter(tr, "shingle", bloom_df,
                              num_bits, num_hashes)
    sizes = tr.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (pre.join(universe, "shingle", "left_semi")
               .groupBy(id_col).agg(F.count("*").alias("n_overlap")))
    frac = F.col("n_overlap") / F.col("n_shingles")
    return (sizes.join(hits, id_col, "left")
            .na.fill({"n_overlap": 0})
            .filter(frac >= threshold)
            .select(id_col, "n_shingles", "n_overlap",
                    F.round(frac, 6).alias("overlap_frac")))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

#: Mersenne prime 2^31-1 — the universal-hash modulus. With base and
#: coefficients < 2^31 the product stays < 2^62, overflow-free in
#: int64 on every engine.
MINHASH_PRIME = 2147483647


def minhash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (salt, a, b) affine coefficients for
    h_i(x) = (a_i·x + b_i) mod 2^31-1 — classic universal-hash minhash
    (one expensive base hash per shingle, num_hashes cheap affines).
    Rejects ``num_hashes < 1`` here, at the shared root of every
    signature path (round-17 battery, reproduced live): 0 crashed
    with a hintless ANSI DIVIDE_BY_ZERO deep inside the estimate,
    and a NEGATIVE count silently returned est_jaccard = -0.0 for
    every pair — plausible-looking garbage."""
    if num_hashes < 1:
        raise ValueError(
            f"num_hashes must be >= 1, got {num_hashes}")
    out = []
    for i in range(num_hashes):
        a = (1103515245 * (i + 1) + 12345) % MINHASH_PRIME
        b = (214013 * (i + 1) + 2531011) % MINHASH_PRIME
        out.append((i, a, b))
    return out


def minhash_vector(docs: DataFrame, num_hashes: int = 16, k: int = 3,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   hash_fn: HashFn = portable_hash64) -> DataFrame:
    """Wide-form signatures: (doc_id, mh array<long>[num_hashes]) as a
    ROW-LOCAL fold — the signature job is a pure map over the corpus
    scan, zero shuffle.

    Semantically identical to grouping the shingle table and taking
    per-salt minima: min over a multiset ignores duplicate shingles,
    so the shingle ``distinct`` is unnecessary on this path. Structure
    mirrors :func:`winnow_fingerprints`: the token array materializes
    once per row, shingle strings and base hashes each materialize
    once in their own projection (HOFs sit outside codegen
    subexpression elimination — re-deriving them inside a later lambda
    re-runs the regex split per element, measured ~6× slower). The
    per-salt minima are ``num_hashes`` independent
    ``array_min(transform(...))`` passes over the base-hash array —
    measured ~2× faster than a single ``aggregate`` fold carrying an
    array accumulator (the fold allocates a fresh ``num_hashes``-long
    array per shingle; the flat passes allocate ``num_hashes`` arrays
    per DOC and keep each lambda a two-op affine map). Docs with fewer
    than k tokens have no shingles and are dropped, matching the long
    form."""
    d = (docs.select(F.col(id_col), words(text_col).alias("_toks"))
             .filter(F.size("_toks") >= k))
    d = d.select(F.col(id_col), _shingle_array("_toks", k).alias("_sh"))
    # pmod, not %: portable_hash64 is non-negative (identical result)
    # but fast_hash64 spans the full int64 range and % would go negative.
    d = d.select(
        F.col(id_col),
        F.transform("_sh", lambda s: F.pmod(hash_fn(s),
                                            F.lit(MINHASH_PRIME))
                    ).alias("_hs"))
    # One parsed selectExpr instead of num_hashes Column-API
    # array_min(transform(...)) builds (round 17, the
    # simhash_signatures / similarity._assign_expr treatment): each lambda
    # construction costs ~a dozen py4j round-trips of pure driver
    # time. The strings parse to the IDENTICAL expression tree —
    # int-literal coefficients, same int64 affine arithmetic — so
    # equality is structural (grouped-vs-vector stays pytest-pinned).
    d = d.selectExpr(
        id_col,
        *[f"array_min(transform(_hs, h -> "
          f"({a} * h + {b}) % {MINHASH_PRIME})) AS _m{i}"
          for i, a, b in minhash_params(num_hashes)])
    return d.select(
        F.col(id_col),
        F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("mh"))


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, k: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       hash_fn: HashFn = portable_hash64,
                       shingles: DataFrame | None = None) -> DataFrame:
    """Long-form signatures: (doc_id, salt, minhash) — min over the
    doc's shingles of the salted hash.

    Two physical paths, bit-identical output:

    - default (``shingles=None``): unpivot :func:`minhash_vector` —
      the signature job is a shuffle-free map; the ``posexplode`` is
      row-local.
    - ``shingles=...`` injected (the serving path that shares one
      persisted shingle scan with the Jaccard join): md5 runs ONCE per
      shingle row (projected before the aggregate so codegen reuses
      it); the ``num_hashes`` variants are cheap affine maps computed
      as parallel map-side min aggregates, then unpivoted with
      ``stack``. The shuffle carries one row per doc — not
      |shingles|×num_hashes — which is the difference between a
      corpus-scale minhash and an accidental 16× data explosion."""
    if shingles is None:
        vec = minhash_vector(docs, num_hashes, k, text_col, id_col,
                             hash_fn)
        return (vec.select(F.col(id_col),
                           F.posexplode("mh").alias("salt", "minhash"))
                   .select(id_col,
                           F.col("salt").cast("long").alias("salt"),
                           "minhash"))
    sh = shingles
    base = F.pmod(hash_fn(F.col("shingle")), F.lit(MINHASH_PRIME)).alias("hbase")
    hashed = sh.select(F.col(id_col), base)
    mins = hashed.groupBy(id_col).agg(*[
        F.min((F.lit(a) * F.col("hbase") + F.lit(b)) % MINHASH_PRIME)
         .alias(f"mh_{i}")
        for i, a, b in minhash_params(num_hashes)
    ])
    stack_args = ", ".join(f"{i}L, mh_{i}" for i in range(num_hashes))
    return mins.selectExpr(
        id_col,
        f"stack({num_hashes}, {stack_args}) AS (salt, minhash)")


def band_signatures(sigs: DataFrame, band_size: int = 4,
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, band_sig): md5 of the band's minhashes
    concatenated in salt order — the single-string LSH join key, and
    the table a production pipeline PERSISTS (it is all incremental
    dedup needs to band a new batch against the corpus). Oracle twin:
    md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY salt)).
    ``band_size < 1`` rejects eagerly (round-17 battery: 0 reached a
    runtime ANSI div-by-zero with no hint which knob was wrong)."""
    if band_size < 1:
        raise ValueError(f"band_size must be >= 1, got {band_size}")
    banded = sigs.withColumn("band", F.expr(f"salt div {band_size}"))
    ordered = F.array_sort(F.collect_list(F.struct("salt", "minhash")))
    return (banded.groupBy(id_col, "band")
            .agg(F.md5(F.concat_ws(",", F.transform(
                ordered, lambda s: s.minhash.cast("string")))
                .cast("binary")).alias("band_sig")))


def band_vector_signatures(vec: DataFrame, band_size: int = 4,
                           num_hashes: int = 16,
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, band_sig) from wide-form vectors — row-local
    (one explode, no groupBy), bit-identical to
    :func:`band_signatures` over the exploded long form: band j covers
    salts [j·band_size, (j+1)·band_size), which is exactly
    ``slice(mh, j·band_size+1, band_size)`` in salt order (a trailing
    short band falls out of ``slice`` clamping, matching
    ``salt div band_size``). ``band_size < 1`` rejects eagerly (the
    :func:`band_signatures` guard class — 0 crashed here with a bare
    ZeroDivisionError in the band-count ceiling)."""
    if band_size < 1:
        raise ValueError(f"band_size must be >= 1, got {band_size}")
    n_bands = -(-num_hashes // band_size)
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda j: F.struct(
            j.cast("long").alias("band"),
            F.md5(F.concat_ws(",", F.transform(
                F.slice("mh", j * band_size + 1, band_size),
                lambda x: x.cast("string"))).cast("binary")
                ).alias("band_sig")))
    return (vec.select(F.col(id_col), F.explode(bands).alias("u"))
               .select(id_col, "u.band", "u.band_sig"))


def _band_self_join(bands: DataFrame, id_col: str = "doc_id") -> DataFrame:
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.band_sig") == F.col("b.band_sig"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
             .distinct())


def lsh_candidate_pairs(sigs: DataFrame, band_size: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """LSH banding: docs agreeing on all rows of ≥1 band become
    candidates."""
    return _band_self_join(band_signatures(sigs, band_size, id_col),
                           id_col)


def minhash_lsh_dedup(docs: DataFrame, num_hashes: int = 16, k: int = 3,
                      band_size: int = 4, text_col: str = "text",
                      id_col: str = "doc_id",
                      hash_fn: HashFn = portable_hash64) -> DataFrame:
    """Composed MinHash→LSH→estimate flow over the wide-form vector
    table. The vector table feeds three consumers (banding + both
    sides of the estimate join), so it is checkpointed once — without
    this Spark recomputes the shingle+hash fold once per consumer,
    tripling the dominant cost (a persist would outlive the call in
    the session's cache manager). Everything up to the band equi-join —
    signatures, banding, the per-pair agreement count — is row-local;
    the only shuffles left are candidate generation itself (the band
    join) and the two one-row-per-doc vector lookups."""
    # _spread_small_cached (round 17): the vector build is a pure map
    # over the corpus scan, so on an unsplittable local input the
    # cache holds ONE partition — and the three consumers are
    # compute-dense interpreted-HOF passes (band md5s, the per-pair
    # agreement fold) that then run single-task (~870 ms each in the
    # round-17 stage profile). Same stats gate as the simhash cache:
    # a no-op at corpus scale.
    vec, _ = materialize(_spread_small_cached(
        minhash_vector(docs, num_hashes, k, text_col, id_col,
                       hash_fn), id_col))
    pairs = _band_self_join(
        band_vector_signatures(vec, band_size, num_hashes, id_col),
        id_col)
    return minhash_vector_estimate(vec, pairs, num_hashes, id_col)


def minhash_vector_estimate(vec: DataFrame, pairs: DataFrame,
                            num_hashes: int = 16,
                            id_col: str = "doc_id") -> DataFrame:
    """Estimated Jaccard from wide-form vectors: the agreement count
    is a row-local ``zip_with`` fold over the two arrays, so each pair
    costs two one-row joins instead of a ``num_hashes``-row join plus
    a pair-keyed aggregate. Output identical to
    :func:`minhash_jaccard_estimate` over the exploded long form."""
    va = vec.select(F.col(id_col).alias("doc_a"), F.col("mh").alias("_ma"))
    vb = vec.select(F.col(id_col).alias("doc_b"), F.col("mh").alias("_mb"))
    agree = F.aggregate(
        F.zip_with("_ma", "_mb",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda a, c: a + c)
    return (pairs.join(va, "doc_a").join(vb, "doc_b")
                 .select("doc_a", "doc_b",
                         (agree / F.lit(float(num_hashes)))
                         .alias("est_jaccard")))


def minhash_jaccard_estimate(sigs: DataFrame, pairs: DataFrame,
                             num_hashes: int = 16,
                             id_col: str = "doc_id",
                             broadcast_pairs: bool = False
                             ) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature positions.

    ``broadcast_pairs`` (round 17): hint the candidate-pair side —
    and the pairs·num_hashes intermediate — into broadcasts, so the
    (possibly corpus-scale) signature table streams MAP-SIDE through
    both joins instead of shuffling on the ids. Correct only when
    the pair set is broadcast-size: the incremental/streaming path
    (pairs bounded by the batch's candidate fan-in) sets it; the
    corpus-wide batch dedup, whose candidate set scales with the
    corpus, keeps the default shuffle join."""
    sa = sigs.select(F.col(id_col).alias("doc_a"), "salt",
                     F.col("minhash").alias("mh_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), "salt",
                     F.col("minhash").alias("mh_b"))
    p = F.broadcast(pairs) if broadcast_pairs else pairs
    joined = p.join(sa, "doc_a")
    if broadcast_pairs:
        joined = F.broadcast(joined)
    joined = joined.join(sb, ["doc_b", "salt"])
    return (joined.groupBy("doc_a", "doc_b")
                  .agg((F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1)
                              .otherwise(0))
                        / F.lit(float(num_hashes))).alias("est_jaccard")))


def incremental_minhash_dedup(new_docs: DataFrame,
                              corpus_sigs: DataFrame,
                              corpus_bands: DataFrame,
                              num_hashes: int = 16, k: int = 3,
                              band_size: int = 4,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              hash_fn: HashFn = portable_hash64,
                              broadcast_batch: bool = False
                              ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup detection: dedup a NEW batch against an
    already-signed corpus without touching the corpus's documents.

    ``broadcast_batch`` (round 17): declare the batch broadcast-size
    (the STREAMING loop's contract — micro-batches arrive at ingest
    cadence) and the two corpus-side joins stop shuffling state: the
    new band table broadcasts into the candidate equi-join (corpus
    bands stream map-side) and the estimate runs with
    ``broadcast_pairs`` (corpus sigs stream map-side). Values
    identical (a join hint never changes semantics); the default
    keeps the batch path's plans untouched — a large DAILY increment
    may exceed broadcast size, where the partition-by-band
    co-location below is the right lever instead.

    This is the shape a daily ingest needs at 100 TB: the corpus side
    contributes only its stored signature/band tables (written by
    previous runs — `minhash_signatures` + `band_signatures`), so the
    work scales with |new| + the candidate fan-in, never with |corpus|
    re-hashing. Partition both stored tables by ``band`` (band join)
    and ``salt`` at write time and the joins co-locate.

    Returns ``(new_sigs, new_bands, pairs)``:

    - ``new_sigs`` / ``new_bands`` — the new batch's rows, ready to be
      APPENDED to the stored tables (the next increment's corpus);
    - ``pairs`` — (doc_a, doc_b, est_jaccard) where at least one side
      is new: new×corpus via the band equi-join, new×new via standard
      LSH banding. doc_a < doc_b; estimates come from the salt-wise
      signature agreement over the union signature table.

    Equivalence contract (pytest-asserted): identical to running
    `minhash_lsh_dedup` over corpus ∪ batch and keeping the pairs that
    touch the batch.

    The op owns NO cache (round-9 principle, re-applied in a
    round-12 review find: the old internal ``persist`` of the vector
    and band tables leaked one cache-manager entry per call — the
    streaming loop's ``unpersist`` on the DERIVED returned frames
    matched nothing, so a long-running ingest accumulated an
    InMemoryRelation per micro-batch). The vector recompute is a
    row-local fold bounded by |batch|; callers that want the
    amortization should persist the RETURNED frames and unpersist
    those same references."""
    vec = minhash_vector(new_docs, num_hashes, k, text_col, id_col,
                         hash_fn)
    new_sigs = (vec.select(F.col(id_col),
                           F.posexplode("mh").alias("salt", "minhash"))
                   .select(id_col,
                           F.col("salt").cast("long").alias("salt"),
                           "minhash"))
    new_bands = band_vector_signatures(vec, band_size, num_hashes,
                                       id_col)

    n, c = new_bands.alias("n"), corpus_bands.alias("c")
    if broadcast_batch:
        n = F.broadcast(n)
    cross = (n.join(c, (F.col("n.band") == F.col("c.band"))
                    & (F.col("n.band_sig") == F.col("c.band_sig"))
                    & (F.col(f"n.{id_col}") != F.col(f"c.{id_col}")))
             .select(F.least(F.col(f"n.{id_col}"),
                             F.col(f"c.{id_col}")).alias("doc_a"),
                     F.greatest(F.col(f"n.{id_col}"),
                                F.col(f"c.{id_col}")).alias("doc_b"))
             .distinct())

    a, b = new_bands.alias("a"), new_bands.alias("b")
    if broadcast_batch:
        a = F.broadcast(a)
    intra = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.band_sig") == F.col("b.band_sig"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"))
             .distinct())

    all_sigs = corpus_sigs.unionByName(new_sigs)
    pairs = minhash_jaccard_estimate(all_sigs,
                                     cross.unionByName(intra).distinct(),
                                     num_hashes, id_col,
                                     broadcast_pairs=broadcast_batch)
    return new_sigs, new_bands, pairs


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

#: ``formulation="auto"`` cutover for the signature builders: inputs
#: whose Catalyst-estimated scan size is at or under this take the
#: GROUPED (explode + hash-aggregate) formulation — at small scale the
#: shuffle is nearly free while interpreted higher-order lambdas pay
#: per element (measured at sf0.1: grouped 1.14 s vs row-local 2.65 s
#: for the full simhash pipeline) — and larger inputs take the
#: shuffle-free ROW-LOCAL map, the only shape whose shuffle volume
#: does not grow with |tokens| at 100 TB. 1 GiB: far under any real
#: corpus, comfortably over every local test/bench input.
SIG_GROUPED_MAX_BYTES = 1 << 30


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate — free (no
    job; parquet scans report real file size). Returns a huge sentinel
    when stats are unavailable (Connect, exotic sources) so ``auto``
    formulation selection falls back to the scale-safe shape."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _spread_small_cached(df: DataFrame, key_col: str) -> DataFrame:
    """Re-spread a SMALL frame across the cluster before it is cached
    for compute-dense consumers. With
    ``canChangeCachedPlanOutputPartitioning=true`` (session default,
    round 17) AQE coalesces a KB-sized cache to one partition — right
    for cheap consumers, wrong when the cached rows feed a join/verify
    stage whose per-row work dwarfs their byte size (the simhash
    hamming verify runs over the probe side's cached partitioning).
    Deterministic key-hash repartition, gated on Catalyst stats with
    the same break-even as ``io.tables._scan_fill_repartition`` (ONE
    shared :func:`..io.tables.fill_wave_bytes` definition — round 18,
    VERDICT r17 #6): only when the estimate cannot fill one task wave
    at the configured split size — a no-op at corpus scale, where
    AQE's advisory-sized partitions already spread the cache."""
    from picoprobedataflow_spark.io.tables import fill_wave_bytes
    spark = df.sparkSession
    try:
        cores = spark.sparkContext.defaultParallelism
        wave = fill_wave_bytes(spark)
    except Exception:
        return df
    if 0 < _plan_size_bytes(df) < wave:
        return df.repartition(cores, F.col(key_col))
    return df


def simhash_signatures(docs: DataFrame, bits: int = 32,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       hash_fn: HashFn = portable_hash64,
                       formulation: str = "auto") -> DataFrame:
    """32-bit SimHash: per token (with multiplicity), hash once; bit b
    of the signature is the sign of Σ ±1 over tokens (bit b set iff
    2·ones_b > n_tokens).

    Two formulations, bit-identical output (equality-pinned):

    - ``"rowlocal"`` — higher-order expressions: the token-hash array
      materializes once per row in its own projection, then each
      bit's ones-count is an independent
      ``aggregate(transform(_hs, bit-extract), 0, +)`` pass. No
      explode, no shuffle, no hash aggregate: the signature job is a
      pure map over the corpus scan — the only shape whose shuffle
      volume is zero however big the corpus. Flat per-bit passes, not
      one fold carrying a (bits+1)-counter array accumulator (the
      fold allocates a fresh counter array per TOKEN).
    - ``"grouped"`` — explode tokens, hash once per token row, one
      hash aggregate of ``bits`` conditional sums keyed by doc. One
      |tokens|-row shuffle, but every expression is a two-op codegen
      intrinsic — measured 2.3× faster than the interpreted lambdas
      on local[32] at sf0.1 (full pipeline 1.14 s vs 2.65 s).
    - ``"auto"`` — :data:`SIG_GROUPED_MAX_BYTES` statistics cutover:
      small scans take grouped (shuffles are nearly free there),
      large scans take the shuffle-free map.

    The oracle replays the same votes SQL-side, unchanged by
    formulation."""
    if formulation not in ("auto", "rowlocal", "grouped"):
        raise ValueError(f"unknown formulation {formulation!r}")
    if formulation == "auto":
        formulation = ("grouped" if _plan_size_bytes(docs)
                       <= SIG_GROUPED_MAX_BYTES else "rowlocal")
    # The per-bit loops are rendered as parsed SQL strings (round 17,
    # the similarity._assign_expr treatment): the Column-API forms spent
    # ~0.3-0.8 s of pure DRIVER time per plan build on py4j gateway
    # round-trips — each of the 32 rowlocal folds costs 3 lambda
    # constructions (~a dozen round-trips apiece), the grouped path ~6
    # calls per conditional sum, and the vote fold ~10 per bit. One
    # selectExpr / F.expr parse yields the IDENTICAL expression tree
    # (same shiftright/&1/CAST(BIGINT) ladder, same left-associated
    # `+` vote accumulation); everything here is int64 arithmetic, so
    # equality is structural, not ulp-tolerant — and stays pinned by
    # the formulation-equality tests.
    if formulation == "grouped":
        # explode_outer: a null-text doc keeps one all-null token row
        # and resolves to signature 0, exactly as the row-local path's
        # null vote counters do — formulations stay bit-identical on
        # degenerate inputs.
        tok = docs.select(F.col(id_col),
                          F.explode_outer(words(text_col)).alias("_t"))
        # isNotNull guard: xxhash64 returns its SEED (42) on an
        # all-null input rather than null, which would hand the
        # null-text doc signature 42 here vs 0 on the row-local path.
        h = tok.select(id_col,
                       F.when(F.col("_t").isNotNull(),
                              hash_fn(F.col("_t"))).alias("_h"))
        d = h.groupBy(id_col).agg(
            *[F.expr(f"sum(CAST(shiftright(_h, {b}) & 1 AS BIGINT)) "
                     f"AS _o{b}")
              for b in range(bits)],
            F.count("*").alias("_n"))
    else:
        d = docs.select(
            F.col(id_col),
            F.transform(words(text_col),
                        lambda t: hash_fn(t)).alias("_hs"))
        d = d.selectExpr(
            id_col, "size(_hs) AS _n",
            *[f"aggregate(transform(_hs, h -> "
              f"CAST(shiftright(h, {b}) & 1 AS BIGINT)), "
              f"CAST(0 AS BIGINT), (acc, x) -> acc + x) AS _o{b}"
              for b in range(bits)])
    sig = " + ".join(
        f"CAST(CASE WHEN _o{b} * 2 > _n THEN {1 << b} ELSE 0 END "
        f"AS BIGINT)" for b in range(bits))
    return d.select(F.col(id_col), F.expr(sig).alias("simhash"))


def simhash_dedup(docs: DataFrame, max_hamming: int = 6,
                  n_chunks: int = 4, bits: int = 32,
                  text_col: str = "text", id_col: str = "doc_id",
                  hash_fn: HashFn = portable_hash64,
                  formulation: str = "auto") -> DataFrame:
    """Composed SimHash flow: signatures → chunk-join candidates →
    hamming verify. The signature table feeds BOTH sides of the
    candidate self-join, and Spark plans them as two independent
    subtrees (no ReusedExchange for a broadcast side), so without the
    materialization the tokenize+vote aggregate runs twice — measured
    2 scans / doubled aggregates in the physical plan. MEMORY_ONLY
    persist: evictable, never spills — bounded across invocations."""
    sigs = _spread_small_cached(
        simhash_signatures(docs, bits, text_col, id_col, hash_fn,
                           formulation), id_col).persist(
                               StorageLevel.MEMORY_ONLY)
    return simhash_near_pairs(sigs, max_hamming, n_chunks, bits, id_col)


def _simhash_chunks(sigs: DataFrame, n_chunks: int, bits: int,
                    id_col: str,
                    extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, simhash, j, chunk[, *extra]): the banded pigeonhole
    decomposition shared by the full-corpus and incremental pairing
    paths. ``extra`` columns (the incremental path's ``_new`` flag)
    ride along unchanged. ``n_chunks`` past ``bits`` rejects
    (round-17 battery): ``chunk_bits`` would floor to 0, every chunk
    value would collapse to 0, and the candidate join silently
    degenerates to the full corpus cross product — results stay
    correct (the hamming filter still runs) but the blowup at scale
    is catastrophic and unsignalled. Trailing ``bits % n_chunks``
    bits being uncovered is FINE (candidates only grow; the
    pigeonhole recall guarantee counts covered differing bits)."""
    if not 1 <= n_chunks <= bits:
        raise ValueError(
            f"n_chunks must be in [1, bits] (got n_chunks="
            f"{n_chunks}, bits={bits}): chunk_bits would floor to "
            f"0 and every signature would collide in every chunk")
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    return sigs.select(
        F.col(id_col), "simhash", *extra,
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     F.shiftright(F.col("simhash"), j * chunk_bits)
                      .bitwiseAND(F.lit(mask)).alias("chunk"))
            for j in range(n_chunks)])).alias("c")
    ).select(F.col(id_col), "simhash", *extra,
             F.col("c.j").alias("j"), F.col("c.chunk").alias("chunk"))


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 6,
                       n_chunks: int = 4, bits: int = 32,
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidates: explode the signature into ``n_chunks``
    byte chunks, equi-join on any agreeing chunk (pigeonhole: full
    recall for hamming < n_chunks), verify bit_count(xor) ≤ max_hamming.
    Note max_hamming above n_chunks-1 trades recall for speed — the
    standard Manku-style compromise."""
    chunks = _simhash_chunks(sigs, n_chunks, bits, id_col)
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # Hamming filters inside the join output BEFORE the distinct: on a
    # homogeneous corpus the chunk join can emit ~n² candidates, and
    # deduplicating the filtered survivors is far cheaper than
    # deduplicating every collision (measured 3.2s → sub-second at 5k
    # docs with 913k raw candidates).
    return (a.join(b, (F.col("a.j") == F.col("b.j"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .filter(ham <= max_hamming)
             .select(F.col(f"a.{id_col}").alias("doc_a"),
                     F.col(f"b.{id_col}").alias("doc_b"),
                     ham.cast("long").alias("hamming"))
             .distinct())


def incremental_simhash_pairs(state_sigs: DataFrame,
                              new_sigs: DataFrame,
                              max_hamming: int = 6,
                              n_chunks: int = 4, bits: int = 32,
                              id_col: str = "doc_id",
                              broadcast_batch: bool = False
                              ) -> DataFrame:
    """Near-dup pairs involving AT LEAST ONE new signature — the
    incremental twin of :func:`simhash_near_pairs`, for the
    daily-crawl loop: join the NEW batch's banded chunks against the
    accumulated (state ∪ new) chunks, so per-epoch work scales with
    the batch, never re-pairing the corpus against itself (the
    :func:`incremental_minhash_dedup` contract, carried to
    hamming-signature space — text SimHash and image dHash both
    qualify; feed 64-bit dHashes with ``bits=64``).

    Emission contract (what makes a drained stream ≡ one full-corpus
    run): each pair appears exactly once, ordered ``doc_a < doc_b``,
    in the epoch its LATER member arrives — state×new pairs emit
    unconditionally (sorted), new×new pairs under the usual ``a < b``
    guard. ``state_sigs`` rows must be disjoint from ``new_sigs``
    (re-ingesting an id already in state is the caller's dedupe, as
    in the minhash loop).

    ``broadcast_batch`` (round 17, the
    :func:`incremental_minhash_dedup` knob): the probe side is the
    NEW batch's chunk table — hinting it broadcast makes the
    accumulated (state ∪ new) chunk side stream MAP-SIDE instead of
    shuffling on (j, chunk) every epoch. The streaming loops set it
    (micro-batches are broadcast-size by contract); a large batch
    increment keeps the default shuffle join."""
    ac = _simhash_chunks(
        state_sigs.select(F.col(id_col), "simhash")
        .withColumn("_new", F.lit(False))
        .unionByName(new_sigs.select(F.col(id_col), "simhash")
                     .withColumn("_new", F.lit(True))),
        n_chunks, bits, id_col, extra=("_new",))
    # b-side derives FROM the union (one chunk decomposition, not
    # two parallel ones to keep in sync — review find).
    bc = ac.filter(F.col("_new")).drop("_new")
    a, b = ac.alias("a"), bc.alias("b")
    if broadcast_batch:
        b = F.broadcast(b)
    ham = F.bit_count(F.col("a.simhash")
                      .bitwiseXOR(F.col("b.simhash")))
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    return (a.join(b, (F.col("a.j") == F.col("b.j"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (~F.col("a._new") | (ida < idb)))
            .filter((ham <= max_hamming) & (ida != idb))
            .select(F.least(ida, idb).alias("doc_a"),
                    F.greatest(ida, idb).alias("doc_b"),
                    ham.cast("long").alias("hamming"))
            .distinct())


# --------------------------------------------------------------------------
# Cluster resolution: connected components → survivor map
# --------------------------------------------------------------------------

def connected_components(edges: DataFrame, id_a: str = "doc_a",
                         id_b: str = "doc_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, comp): min-id label propagation over an undirected pair
    graph, iterated to fixpoint.

    Each round is one equi-join (edge ⋈ label on the source node) plus
    one min-aggregate, then a POINTER-JUMPING shortcut (label ⋈ label
    on the current comp: comp ← label(comp)) — all hash-partitioned
    on a node id, so a round costs three shuffles of
    |edges| + |nodes| rows regardless of cluster shape. The shortcut
    doubles every label's reach per round, so rounds needed are
    O(log diameter), not O(diameter) — without it a chain-shaped
    cluster longer than ``max_iter`` silently exits BEFORE the
    fixpoint (observed: a 122-node mutual-kNN component at sf0.1
    needs > 25 one-hop rounds). The fixpoint test is a Σcomp
    monotone check per round, observed on the round's checkpoint job
    (no job of its own). At extreme scale the same loop
    upgrades to the large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce"), which
    bounds rounds at O(log²  n) on adversarial chains — the operator
    contract (edges in, (node, comp) out) is unchanged.

    The result is the unique fixpoint (min reachable id per node), so
    it is deterministic regardless of iteration schedule — which is
    what lets a recursive-CTE oracle replay it exactly.

    Reference analog: the seen-set "skip the duplicate" semantics
    (picoprobe/utils.py:126-131) generalized from exact-key equality
    to transitive near-dup closure. Intermediate rounds are
    materialized with localCheckpoint (lineage would otherwise grow
    by two joins per round and blow up plan compilation).

    Non-numeric ids (image paths, URLs) are supported via a
    collision-CHECKED salted-hash mapping: endpoints map to
    ``xxhash64(id, salt)``, one exact countDistinct pass verifies the
    mapping is injective (re-salting on the astronomically-unlikely
    collision, so the result is EXACT, never hash-approximate), the
    numeric loop runs unchanged, and components map back with the
    min ORIGINAL id as representative — the same comp semantics the
    numeric path has. Costs two extra broadcast-joins and one
    aggregate over the pair-graph's nodes (not the corpus).
    """
    # Dispatch on BOTH endpoint types (review find: inspecting only
    # id_a let mixed numeric/string edges take the numeric path,
    # where the string side casts to NULL and silently corrupts
    # every component).
    a_type = edges.schema[id_a].dataType.typeName()
    b_type = edges.schema[id_b].dataType.typeName()
    stringy = ("string", "binary")
    if (a_type in stringy) != (b_type in stringy):
        raise TypeError(
            f"connected_components endpoints must both be numeric "
            f"or both string/binary; got {id_a}: {a_type}, "
            f"{id_b}: {b_type}")
    # NULL endpoints drop the EDGE, uniformly across both branches
    # (round-14 review fix: the mapped branch's inner joins silently
    # vanished such edges — including their non-NULL endpoint —
    # while the numeric branch retained a NULL pseudo-node; a NULL
    # id identifies no document, so the edge carries no closure
    # information and the non-NULL endpoint simply isn't pulled into
    # any component by it).
    edges = edges.filter(F.col(id_a).isNotNull()
                         & F.col(id_b).isNotNull())
    if a_type in stringy:
        if a_type != b_type:
            raise TypeError(
                f"connected_components endpoints must share one "
                f"type; got {id_a}: {a_type}, {id_b}: {b_type}")
        return _connected_components_mapped(edges, id_a, id_b,
                                            max_iter)
    sym, _ = materialize(
        edges.select(F.col(id_a).cast("long").alias("src"),
                     F.col(id_b).cast("long").alias("dst"))
        .union(edges.select(F.col(id_b).cast("long").alias("src"),
                            F.col(id_a).cast("long").alias("dst")))
        .distinct())
    # Σcomp in decimal(38,0): exact (integer) and overflow-safe — the
    # salted-hash branch feeds ids spanning the full ±2^63 range, and
    # ANSI long sums over those overflow (found by the image-lane
    # test, not in production).
    _fix_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    # Seed with one propagation round fused into the init: comp0(n) =
    # min(n, direct neighbors) — same fixpoint, one fewer iteration.
    labels, m = materialize(
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("comp")),
        s=_fix_sum)
    prev_sum = m["s"]
    for _ in range(max_iter):
        prop = (sym.join(labels, sym["src"] == labels["node"])
                   .select(F.col("dst").alias("node"), F.col("comp")))
        hop = (labels.unionByName(prop)
               .groupBy("node").agg(F.min("comp").alias("comp")))
        # Pointer jumping: every comp value is itself a node id, so
        # one label⋈label join rewrites comp ← label(comp) — reach
        # doubles per round (O(log diameter) rounds total). Labels
        # still only ever decrease, so the Σcomp fixpoint test below
        # is unchanged.
        shortcut = labels.select(F.col("node").alias("_cn"),
                                 F.col("comp").alias("_cc"))
        labels, m = materialize(
            hop.join(shortcut, hop["comp"] == shortcut["_cn"], "left")
            .select("node",
                    F.least("comp", F.coalesce("_cc", "comp"))
                     .alias("comp")),
            s=_fix_sum)
        # Labels only ever decrease, so Σcomp is strictly monotone
        # until the fixpoint: equality IS convergence.
        cur_sum = m["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def _connected_components_mapped(edges: DataFrame, id_a: str,
                                 id_b: str,
                                 max_iter: int) -> DataFrame:
    """String/binary-id branch of :func:`connected_components`:
    collision-checked salted-hash ids in, numeric CC, min-original-id
    representatives out. Split out so the numeric loop stays exactly
    as pinned."""
    nodes, _ = materialize(
        edges.select(F.col(id_a).alias("orig"))
        .unionAll(edges.select(F.col(id_b).alias("orig")))
        .distinct())
    ids = None
    for salt in range(16):
        cand = nodes.select(
            "orig", F.xxhash64("orig", F.lit(salt)).alias("nid"))
        c = cand.agg(F.count("*").alias("n"),
                     F.countDistinct("nid").alias("d")).head()
        if c["n"] == c["d"]:
            ids, _ = materialize(cand)
            break
    if ids is None:  # pragma: no cover — P(collision) ~ n²/2^64 per salt
        raise RuntimeError(
            "could not find a collision-free 64-bit id mapping in "
            "16 salts — node count is beyond this formulation")
    e2 = (edges
          .join(ids.select(F.col("orig").alias(id_a),
                           F.col("nid").alias("_na")), id_a)
          .join(ids.select(F.col("orig").alias(id_b),
                           F.col("nid").alias("_nb")), id_b)
          .select(F.col("_na").alias("doc_a"),
                  F.col("_nb").alias("doc_b")))
    labels = connected_components(e2, "doc_a", "doc_b", max_iter)
    # Representative: the min ORIGINAL id per component (one
    # aggregate over the node-keyed label table + two joins back).
    rep = (labels.join(ids.select(F.col("nid").alias("node"),
                                  "orig"), "node")
           .groupBy("comp").agg(F.min("orig").alias("_rep")))
    return (labels
            .join(ids.select(F.col("nid").alias("node"),
                             F.col("orig").alias("_n")), "node")
            .join(rep, "comp")
            .select(F.col("_n").alias("node"),
                    F.col("_rep").alias("comp")))


def near_dup_survivors(docs: DataFrame, edges: DataFrame,
                       id_col: str = "doc_id",
                       order_col: str | None = None) -> DataFrame:
    """(doc_id, canonical_id, keep): per-document survivor map over
    the transitive closure of ``edges``.

    Documents in no pair are their own canonical (keep = true) via the
    left join — the full corpus gets a verdict, which is what a
    training-data filter stage consumes (mirrors ``exact_dup_mapping``
    for the exact case).

    ``order_col`` (round 14) picks WHICH member of a duplicate
    cluster survives: ``None`` keeps the min-id member (the stable
    default every existing pin relies on); a numeric column name
    keeps the cluster's HIGHEST-scoring member, NULL and NaN scores
    losing to ANY real score (including a real ``-inf`` — the
    ordering key leads with a has-score flag, no sentinel
    collision), min id as tiebreak — the domain_quota ``order_col``
    convention. Keep-best-quality-per-cluster is the curation
    policy Lee et al. style pipelines actually want: min-id keeps
    whichever copy was crawled first, which is uncorrelated with
    which copy is cleanest. Plan cost: one ``max_by`` aggregate and
    one join back, BOTH over only the rows the closure actually
    clustered (singletons never enter them), so the extra work is
    bounded by clustered-doc count, not corpus size. The id
    tiebreak negates via bitwise NOT (order-reversing and total on
    int64 — an arithmetic ``-id`` overflows ANSI at Long.MIN_VALUE,
    a value xxhash64-derived ids can hit)."""
    comps = connected_components(edges, max_iter=25)
    sel = [F.col(id_col).cast("long").alias(id_col)]
    if order_col is not None:
        sel.append(F.col(order_col).cast("double").alias("_ord"))
    joined = docs.select(*sel).join(
        comps.withColumnRenamed("node", id_col), id_col, "left")
    if order_col is None:
        comp = F.coalesce("comp", F.col(id_col))
        return joined.select(
            F.col(id_col),
            comp.alias("canonical_id"),
            (comp == F.col(id_col)).alias("keep"))
    # NaN orders ABOVE every number in Spark (the weighted-pagerank
    # poisoning class) — a NaN score must lose like a NULL, not win.
    ord_clean = F.when(~F.isnan("_ord"), F.col("_ord"))
    clustered = joined.filter(F.col("comp").isNotNull())
    best = (clustered.groupBy("comp")
            .agg(F.max_by(
                id_col,
                F.struct(ord_clean.isNotNull().alias("h"),
                         F.coalesce(ord_clean, F.lit(0.0))
                          .alias("o"),
                         F.bitwise_not(F.col(id_col)).alias("t")))
                .alias("_canon")))
    return (joined.join(best, "comp", "left")
            .select(F.col(id_col),
                    F.coalesce("_canon", F.col(id_col))
                     .alias("canonical_id"),
                    (F.coalesce("_canon", F.col(id_col))
                     == F.col(id_col)).alias("keep")))


def _sym(e: DataFrame) -> DataFrame:
    """Both directions of an edge list, self-loops dropped."""
    return (e.select(F.col("u"), F.col("v"))
             .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
             .filter(F.col("u") != F.col("v"))
             .distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: connect every strictly-larger neighbor of u to the
    minimum of u's closed neighborhood."""
    sym = _sym(e)
    m = (sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    return (sym.join(m, "u")
               .filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .filter(F.col("u") != F.col("v"))
               .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: canonicalize edges toward the larger endpoint, then
    connect u and all its ≤ neighbors to the neighborhood minimum."""
    canon = (e.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
              .filter(F.col("u") != F.col("v"))
              .distinct())
    m = (canon.groupBy("u")
              .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    joined = canon.join(m, "u")
    out = (joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
           .union(joined.select(F.col("u"), F.col("m").alias("v")))
           .filter(F.col("u") != F.col("v"))
           .distinct())
    return out


def connected_components_star(edges: DataFrame, id_a: str = "doc_a",
                              id_b: str = "doc_b",
                              max_iter: int = 20) -> DataFrame:
    """(node, comp) via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the adversarial-graph path :func:`connected_components` documents:
    min-label propagation needs diameter rounds, which a 10⁶-node
    chain turns into 10⁶ shuffles; star rounds contract the graph
    toward per-component stars in O(log² n) rounds regardless of
    shape. Each round is a groupBy-min plus an equi-join — the same
    per-round cost shape as label propagation, so for typical dense
    dedup clusters either works; this one also survives pathological
    chains. Fixpoint = identical edge multiset two rounds running
    (count + containment check — driver-side scalars only; the count
    is observed on the round's checkpoint job).

    Returns the same (node, comp) contract as
    :func:`connected_components`, comp = min id of the component;
    isolated self-loop-only nodes map to themselves.
    """
    nodes, _ = materialize(
        edges.select(F.col(id_a).cast("long").alias("n"))
        .union(edges.select(F.col(id_b).cast("long").alias("n")))
        .distinct())
    e, m = materialize(
        edges.select(F.col(id_a).cast("long").alias("u"),
                     F.col(id_b).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(), n=F.count(F.lit(1)))
    n_e = m["n"]
    for _ in range(max_iter):
        if n_e == 0:
            break
        new_e, m = materialize(_small_star(_large_star(e)),
                               n=F.count(F.lit(1)))
        unchanged = (m["n"] == n_e
                     and new_e.exceptAll(e).limit(1).count() == 0)
        e, n_e = new_e, m["n"]
        if unchanged:
            break
    # at the star fixpoint every edge points child -> component root
    comp = (e.groupBy("u").agg(F.min("v").alias("comp"))
             .select(F.col("u").alias("node"), "comp"))
    roots = (e.select(F.col("v").alias("node")).distinct()
              .join(comp, "node", "left_anti")
              .withColumn("comp", F.col("node")))
    labeled = comp.unionByName(roots)
    isolated = (nodes.join(labeled, nodes.n == labeled.node, "left_anti")
                .select(F.col("n").alias("node"),
                        F.col("n").alias("comp")))
    return labeled.unionByName(isolated)


def quality_survivors(docs: DataFrame, survivors: DataFrame,
                      quality: Column,
                      id_col: str = "doc_id") -> DataFrame:
    """(canonical_id, best_id): QUALITY-AWARE survivor per near-dup
    cluster — the highest-``quality`` member wins (doc-id ascending
    on ties), instead of keep-first/min-id. Production pipelines
    keep the longest / cleanest / highest-LM-scored duplicate, not
    the one that happened to arrive first; the policy is pluggable
    because the cluster labels and the survivor choice are separate
    passes. One window partitioned by the cluster label (corpus
    cardinality, never partition-less) over (id, label, quality) —
    no extra corpus shuffle beyond the label join."""
    scored = docs.select(F.col(id_col), quality.alias("_q"))
    labeled = (survivors.select(id_col, "canonical_id")
               .join(scored, id_col))
    w = W.partitionBy("canonical_id").orderBy(F.desc("_q"),
                                              F.asc(id_col))
    return (labeled.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("canonical_id", F.col(id_col).alias("best_id")))


def leakage_safe_split(survivors: DataFrame, salt: str = "lsplit",
                       cuts: tuple[int, int] = (80, 90)) -> DataFrame:
    """Survivor map + (cluster_size, split): assign every near-dup
    CLUSTER — not every document — to train/val/test, so two near
    duplicates can never straddle the train/eval boundary (the
    split-level form of benchmark decontamination: a paraphrase of a
    val doc in train is train/eval leakage that a doc-hash split
    happily commits).

    The split is a pure function of ``canonical_id``:
    md5(salt:canonical_id) mod 100 against ``cuts`` — same salted
    hash-bucket trick as :func:`..functions.text.mixture_sample`, so
    it is stable across runs/engines/partitionings, and membership of
    one cluster never reshuffles another's. ``cluster_size`` rides
    along (count over the canonical label) — the soft-dedup weight
    1/cluster_size is derivable row-locally from it.

    Scale shape: one window partitioned by ``canonical_id`` (corpus
    cardinality, never partition-less) on top of the survivor map;
    the split itself is a row-local expression — no extra shuffle
    beyond the count."""
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"),
                       F.col("canonical_id").cast("string"))
              .cast("binary")), 1, 8), 16, 10).cast("long") % 100)
    split = (F.when(bucket < cuts[0], "train")
              .when(bucket < cuts[1], "val")
              .otherwise("test"))
    size = F.count("*").over(W.partitionBy("canonical_id"))
    return (survivors.withColumn("cluster_size", size)
                     .withColumn("split", split))


def apply_survivors(docs: DataFrame, survivors: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """Filter the corpus down to cluster survivors — the actual "skip
    the duplicate" act (picoprobe/utils.py:126-131) as a left-semi
    join against the keep set. At scale the keep set is the smaller
    side by construction (one row per cluster + singletons) and
    builds the semi join's hash table; the corpus never re-shuffles
    if it is already partitioned on the id."""
    keep = survivors.filter(F.col("keep")).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def _aligned_spans(docs: DataFrame, span_w: int, text_col: str,
                   id_col: str, stride: int | None = None,
                   extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, [extra_cols...], idx, span, _key): the shared window
    table under :func:`cross_doc_span_dedup`,
    :func:`remove_frequent_segments` and
    :func:`source_overlap_matrix` — each document's token stream
    chopped into ``span_w``-token windows every ``stride`` tokens
    (aligned, non-overlapping by default), keyed by the corpus
    position struct ``(id, pos)`` — structs order lexicographically,
    so ``min(_key)`` is the true earliest occurrence for ANY bigint
    id (a packed ``(id << 32) + pos`` long truncates 64-bit ids:
    two ids equal mod 2^32 collide and both "survive" dedup — the
    round-15 fix; WET ingestion mints xxhash64 ids, where birthday
    counting makes that collision certain at scale). ``extra_cols``
    ride
    through the explode verbatim (cheaper than a join back on the
    id). One explode; no shuffle of its own."""
    from picoprobedataflow_spark.functions.text import words

    # stride < span_w gives OVERLAPPING windows — catches duplicated
    # passages that aligned non-overlapping windows miss when an edit
    # re-phases the alignment (cost factor span_w/stride more rows).
    st = span_w if stride is None else int(stride)
    extras = [F.col(c) for c in extra_cols]
    toks = (docs.select(F.col(id_col), *extras,
                        words(text_col).alias("_w"))
            .filter(F.size("_w") >= span_w))
    n_sp = (F.floor((F.size("_w") - span_w) / st) + 1).cast("int")
    # greatest(.., 0): the posexplode makes InferFiltersFromGenerate
    # evaluate this transform on pre-filter rows (see shingle_table);
    # without the clamp a sub-span_w doc at stride=1 reaches
    # slice(_w, 0, ..), which throws.
    spans = (toks
             .select(F.col(id_col), *extras,
                     F.posexplode(F.transform(
                         F.sequence(F.lit(0), F.greatest(n_sp - 1,
                                                         F.lit(0))),
                         lambda i: F.concat_ws(
                             " ", F.slice("_w", i * st + 1, span_w))))
                     .alias("idx", "span")))
    key = F.struct(F.col(id_col).cast("long").alias("id"),
                   F.col("idx").cast("long").alias("pos"))
    return spans.withColumn("_key", key)


def cross_doc_span_dedup(docs: DataFrame, span_w: int = 4,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         stride: int | None = None) -> DataFrame:
    """Exact substring-dedup approximation (the Lee et al.
    "Deduplicating Training Data" passage-level idea, restricted to
    aligned windows so it stays one aggregate): chop each document's
    token stream into non-overlapping ``span_w``-token windows and
    mark every window whose exact text occurred at an earlier
    (doc, window) position anywhere in the corpus. Returns one row
    per window: (id, idx, span, first_id, first_pos, is_dup) where
    (first_id, first_pos) is the corpus-wide first occurrence —
    the lexicographic ``min(struct(id, pos))``, exact for ANY
    bigint id including the xxhash64 ids WET ingestion mints (a
    packed ``(id << 32) + pos`` long would truncate to the low 32
    id bits, letting mod-2^32-colliding ids under-delete).

    Scale shape: one explode (corpus token count / span_w rows), one
    hash aggregate keyed by the span text (high cardinality, skew
    bounded by how often a span can repeat), one equi-join back on
    the same key — Catalyst reuses the aggregate's shuffle
    partitioning for the join side. Nothing quadratic; the span text
    itself can be replaced by its md5 in the shuffle key at scale
    (same trick as content_fingerprints)."""
    spans = _aligned_spans(docs, span_w, text_col, id_col, stride)
    firsts = (spans.groupBy("span")
              .agg(F.min("_key").alias("_first")))
    return (spans.join(firsts, "span")
            .select(F.col(id_col), "idx", "span",
                    F.col("_first.id").alias("first_id"),
                    F.col("_first.pos").alias("first_pos"),
                    (F.col("_key") != F.col("_first")).alias("is_dup")))


def remove_duplicate_spans(docs: DataFrame, span_w: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, cleaned, n_removed, n_kept): the REMOVAL half of
    passage dedup (Lee et al. actually delete the repeated passages,
    not just count them): every aligned ``span_w``-token window
    whose text occurred at an earlier corpus position is dropped,
    first occurrences and the unwindowed tail tokens are stitched
    back in order. Whitespace normalizes to single spaces (the
    windows are token-joined) — acceptable for a training corpus
    that tokenizes downstream anyway.

    Scale shape: :func:`cross_doc_span_dedup`'s explode + span-keyed
    aggregate + join, then ONE doc-keyed aggregate whose
    ``collect_list`` is bounded by the document's own span count —
    per-doc state, the same bound as any whole-doc transform. Docs
    shorter than ``span_w`` pass through untouched (they have no
    windows)."""
    spans = cross_doc_span_dedup(docs, span_w, text_col, id_col)
    return _reassemble_spans(docs, spans, ~F.col("is_dup"),
                             span_w, text_col, id_col)


def _reassemble_spans(docs: DataFrame, marked: DataFrame, keep,
                      span_w: int, text_col: str,
                      id_col: str) -> DataFrame:
    """Stitch a marked aligned-window table back into per-document
    cleaned text: windows where ``keep`` holds re-join in idx order,
    the unwindowed tail tokens append verbatim, and docs with no
    windows pass through untouched. The ``collect_list`` is bounded
    by the document's own span count — per-doc state, the same bound
    as any whole-doc transform."""
    from picoprobedataflow_spark.functions.text import words

    kept_struct = F.when(keep, F.struct("idx", "span"))
    # Gated doc-hash respread before the reassembly aggregate (round
    # 18, guide §2.5 — the decontaminate_spans sweep treatment): AQE
    # sizes the doc-keyed shuffle by BYTES and coalesces the MB-scale
    # marked-span table to 1-4 tasks under the compute-dense
    # collect_list+array_sort+concat stage. Statistics-gated to small
    # inputs (shared fill-wave break-even — no-op at corpus scale);
    # partitioning never changes values.
    agg = (_spread_small_cached(marked, id_col).groupBy(id_col)
           .agg(F.concat_ws(" ", F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.span)).alias("_body"),
                F.sum((~keep).cast("long")).alias("n_removed"),
                F.sum(keep.cast("long")).alias("n_kept")))
    toks = docs.select(F.col(id_col), words(text_col).alias("_w"))
    tail_start = (F.floor(F.size("_w") / span_w) * span_w + 1).cast("int")
    tails = toks.select(
        F.col(id_col),
        F.concat_ws(" ", F.slice("_w", tail_start, span_w))
         .alias("_tail"))
    return (tails.join(agg, id_col, "left")
            .select(F.col(id_col),
                    F.trim(F.concat(F.coalesce("_body", F.lit("")),
                                    F.lit(" "), F.col("_tail")))
                    .alias("cleaned"),
                    F.coalesce("n_removed", F.lit(0).cast("long"))
                     .alias("n_removed"),
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                     .alias("n_kept")))


def kmr_fingerprint_positions(docs: DataFrame, min_len: int,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """(id, pos, n_tok, sig): one row per token position, with ``sig``
    the fingerprint of the exact ``min_len``-token window starting at
    ``pos`` (NULL where the window would run past the document end) —
    the suffix-array-style primitive under
    :func:`substring_dedup_stats`.

    Construction is Karp–Miller–Rosenberg prefix doubling over md5
    fingerprints: ``h_1(i) = md5(tok_i)``, then ``h_{2k}(i) =
    md5(h_k(i) || '|' || h_k(i+k))`` via ``lead`` windows, up to the
    largest power of two ``a ≤ min_len``, and finally ``sig(i) =
    md5(h_a(i) || '|' || h_a(i + min_len - a))`` — the overlapping
    sparse-table combine (equal windows ⟺ equal (prefix-a, suffix-a)
    pair, overlap included, because equality of md5 chains is
    equality of the underlying token runs modulo 128-bit collisions,
    the same fingerprint trust the exact-dedup family already
    stands on). Two suffixes share a ``min_len``-token prefix iff
    their sigs match — the exact "substring of length ≥ L occurs
    twice" criterion of suffix-array dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr), with NO fixed-k shingle approximation: any
    arbitrary-length verbatim repeat ≥ min_len is a run of matching
    sigs.

    Scale shape: each position carries O(log min_len) fingerprints
    over the chain instead of the O(min_len) tokens a naive window
    concat would shuffle (the span_dedup family's cost). All levels
    ride ONE doc-keyed sort — the lead windows share the
    (partition by id, order by pos) spec, so Catalyst plans a single
    Exchange + Sort followed by a Window chain; NULL propagation
    through concat/md5 marks past-end windows with no special
    casing. Documents partition independently; nothing global.

    Spark has no suffix-array operator; the reference
    (ramanathanlab/PicoProbeDataFlow) has no dedup at all — this is
    the engine-side primitive a curation flow needs to drop a doc
    that embeds a long verbatim quote of another even when shingle
    alignment misses it.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    toks0 = docs.select(F.col(id_col), words(text_col).alias("_w"))
    return _kmr_from_tokens(toks0, min_len, id_col)


def _kmr_from_tokens(toks0: DataFrame, min_len: int,
                     id_col: str) -> DataFrame:
    """The fingerprint chain over a prebuilt (id, _w token array)
    frame — split out so :func:`substring_dedup_stats` can share ONE
    (persisted) tokenize between the chain and its per-doc token
    counts (round-14 review fix: the two consumers each re-ran the
    corpus tokenize, the same multi-consumer re-scan class the
    pmi_cooccurrence persist closed)."""
    toks = toks0.select(F.col(id_col), F.size("_w").alias("n_tok"),
                        F.posexplode("_w").alias("pos", "tok"))
    w = W.partitionBy(id_col).orderBy("pos")
    out = toks.withColumn("_h", F.md5("tok"))
    k = 1
    while k * 2 <= min_len:
        out = out.withColumn(
            "_h", F.md5(F.concat(F.col("_h"), F.lit("|"),
                                 F.lead("_h", k).over(w))))
        k *= 2
    if k == min_len:
        out = out.withColumn("sig", F.col("_h"))
    else:
        out = out.withColumn(
            "sig", F.md5(F.concat(F.col("_h"), F.lit("|"),
                                  F.lead("_h", min_len - k).over(w))))
    return out.select(F.col(id_col), "pos", "n_tok", "sig")


def substring_dedup_stats(docs: DataFrame, min_len: int = 12,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document exact-substring duplication accounting — the
    suffix-array dedup criterion (Lee et al. 2022 ExactSubstr): a
    token position is duplicated iff the exact ``min_len``-token
    window starting there occurs ≥ 2 times anywhere in the corpus
    (self-repeats included, as in the paper), and contiguous
    duplicated windows merge into maximal duplicated regions of
    ARBITRARY length. Returns one row per document:

    - ``n_dup_pos`` — duplicated window-start positions;
    - ``n_spans`` — maximal duplicated regions after merging
      (two positions merge when the younger starts within
      ``min_len`` tokens of the elder, i.e. their covered token
      ranges touch or overlap);
    - ``dup_tok`` — tokens covered by duplicated regions (Σ region
      lengths — the count ExactSubstr would delete);
    - ``max_span`` — longest duplicated region in tokens (a 60-token
      verbatim quote reports ≈ 60+, not the fixed window size);
    - ``dup_ratio`` — dup_tok / n_tok, 6 dp.

    Documents with no duplicated window (including docs shorter than
    ``min_len``) report zeros — totality over the whole corpus.

    Scale shape: the :func:`kmr_fingerprint_positions` chain (one
    doc-keyed sort, O(log min_len) Window ops), then ONE
    count-over-sig window on the non-NULL sigs (high-cardinality
    key; hot sigs are bounded by how often a passage can repeat, the
    span_dedup argument), one doc-keyed island merge
    (lag + conditional cumsum — the sessionize pattern), and one
    doc-keyed aggregate joined back onto the doc list. No
    all-pairs, no driver state; at 100 TB every stage keys on doc or
    sig."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    # ONE tokenize, two consumers (the fingerprint chain and the
    # per-doc token counts) — MEMORY_ONLY: evictable, never spills.
    toks0 = (docs.select(F.col(id_col), words(text_col).alias("_w"))
             .persist(StorageLevel.MEMORY_ONLY))
    sigs = _kmr_from_tokens(toks0, min_len, id_col)
    valid = sigs.filter(F.col("sig").isNotNull())
    cnt = F.count("*").over(W.partitionBy("sig"))
    dup = (valid.withColumn("_c", cnt).filter(F.col("_c") >= 2)
           .select(id_col, "pos"))
    w = W.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    islands = (dup.withColumn(
        "_new", F.when(gap.isNull() | (gap > min_len), 1)
                 .otherwise(0).cast("long"))
        .withColumn("_isl", F.sum("_new").over(
            w.rowsBetween(W.unboundedPreceding, 0))))
    spans = (islands.groupBy(id_col, "_isl")
             .agg(F.count("*").alias("_n_pos"),
                  (F.max("pos") + min_len - F.min("pos"))
                  .cast("long").alias("_len")))
    per_doc = (spans.groupBy(id_col)
               .agg(F.sum("_n_pos").cast("long").alias("n_dup_pos"),
                    F.count("*").cast("long").alias("n_spans"),
                    F.sum("_len").cast("long").alias("dup_tok"),
                    F.max("_len").cast("long").alias("max_span")))
    base = toks0.select(F.col(id_col), F.size("_w").alias("_n_tok"))
    zero = F.lit(0).cast("long")
    return (base.join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_dup_pos", zero).alias("n_dup_pos"),
                    F.coalesce("n_spans", zero).alias("n_spans"),
                    F.coalesce("dup_tok", zero).alias("dup_tok"),
                    F.coalesce("max_span", zero).alias("max_span"),
                    F.round(F.coalesce("dup_tok", zero)
                            / F.col("_n_tok"), 6).alias("dup_ratio")))


def remove_duplicate_substrings(docs: DataFrame, min_len: int = 12,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                seen_sigs: DataFrame | None = None,
                                sigs: DataFrame | None = None,
                                broadcast_batch: bool = False
                                ) -> DataFrame:
    """(doc_id, cleaned, n_removed, n_kept): the REMOVAL half of
    suffix-array substring dedup — ExactSubstr's actual edit (Lee et
    al. 2022 delete the duplicated text, keeping one occurrence;
    :func:`substring_dedup_stats` is the diagnostic half). A token
    deletes iff it is covered by a duplicated ``min_len``-window
    whose start is NOT the corpus-wide first occurrence of that
    window (first occurrence = lexicographic min over
    ``struct(doc_id, pos)``, exact for any bigint id — so one
    copy of every duplicated passage survives, at its earliest
    corpus position). Unlike :func:`remove_duplicate_spans` this
    needs no alignment: a quote at ANY offset deletes, and a
    100-token verbatim quote deletes in full, not just its aligned
    k-windows. Docs with nothing duplicated pass through untouched
    (whitespace normalized to single spaces, the span-cleaner
    contract).

    Scale shape: the :func:`kmr_fingerprint_positions` chain (one
    persisted tokenize, one doc-keyed sort, O(log L) Windows), one
    sig-keyed count+min aggregate joined back on sig, one island
    merge of the delete intervals, then ONE doc-keyed reassembly
    whose ``collect_list`` is bounded by the document's own
    duplicated-region count — per-doc state, the
    ``_reassemble_spans`` bound. The final token filter is a
    row-local ``exists`` over that bounded interval array.

    ``seen_sigs`` (round 14, the streaming hook): a 1-column frame
    of window fingerprints already seen in EARLIER corpus slices —
    an occurrence whose sig is in it deletes regardless of local
    first-occurrence status (its true first occurrence lives in a
    prior slice). Over id-ordered slices, slicing + seen_sigs
    reproduces the one-shot corpus run exactly (the
    :func:`..streaming.substr_stream.run_substr_clean_stream`
    drain-equivalence pin). ``broadcast_batch`` (round 17, the
    :func:`incremental_minhash_dedup` knob): restrict ``seen_sigs``
    to THIS slice's sig set via a broadcast semi before the left
    join — the accumulated sig state then streams map-side instead
    of being distinct-shuffled whole every epoch (an identity for
    a left join: unmatched sigs never joined anyway). The streaming
    loop sets it; a large batch slice keeps the default.

    ``sigs`` (round-14 review fix): a precomputed
    :func:`kmr_fingerprint_positions` frame for exactly these docs.
    When given, the op builds NO cache of its own — the streaming
    loop computes (and persists/unpersists) the fingerprints once
    per epoch and shares them between this deletion pass and its
    new-state write, the 'loop owns the cache' rule of
    dedup_stream. When None (one-shot batch), the tokenize persists
    MEMORY_ONLY internally (the minhash shared-vector convention —
    acceptable for session-lived one-shot calls, the leak class
    only bites ops invoked per micro-batch)."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    id_type = dict(docs.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"remove_duplicate_substrings needs an integral "
            f"{id_col!r} for the first-occurrence key (got "
            f"{id_type}); pre-assign numeric ids")
    if sigs is None:
        toks0 = (docs.select(F.col(id_col),
                             words(text_col).alias("_w"))
                 .persist(StorageLevel.MEMORY_ONLY))
        sigs = _kmr_from_tokens(toks0, min_len, id_col)
    else:
        toks0 = docs.select(F.col(id_col),
                            words(text_col).alias("_w"))
    valid = sigs.filter(F.col("sig").isNotNull())
    # first occurrence = lexicographic min over (id, pos) structs —
    # exact for ANY bigint id (xxhash64 ids from WET ingestion
    # included); a packed (id << 32) + pos long truncates to the low
    # 32 id bits, and mod-2^32-colliding ids then share one key so
    # BOTH occurrences survive (round-15 fix, oracle in lockstep).
    key = F.struct(F.col(id_col).cast("long").alias("id"),
                   F.col("pos").cast("long").alias("pos"))
    firsts = (valid.withColumn("_key", key)
              .groupBy("sig")
              .agg(F.count("*").alias("_c"),
                   F.min("_key").alias("_first")))
    # delete coverage = windows that are duplicated AND not the
    # first occurrence of their content; a sig already seen in an
    # earlier slice (seen_sigs) deletes unconditionally — its true
    # first occurrence is not in this frame.
    local_dup = ((F.col("_c") >= 2)
                 & (F.col("_key") != F.col("_first")))
    base = valid.withColumn("_key", key).join(firsts, "sig")
    if seen_sigs is not None:
        prior = (seen_sigs
                 .select(F.col(seen_sigs.columns[0]).alias("sig")))
        if broadcast_batch:
            batch_sig_keys = valid.select("sig").distinct()
            prior = (prior.join(F.broadcast(batch_sig_keys), "sig",
                                "left_semi")
                     .distinct()
                     .withColumn("_seen", F.lit(True)))
            prior = F.broadcast(prior)
        else:
            prior = (prior.distinct()
                     .withColumn("_seen", F.lit(True)))
        dup = (base.join(prior, "sig", "left")
               .filter(local_dup
                       | F.coalesce("_seen", F.lit(False)))
               .select(id_col, "pos"))
    else:
        dup = base.filter(local_dup).select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    islands = (dup.withColumn(
        "_new", F.when(gap.isNull() | (gap > min_len), 1)
                 .otherwise(0).cast("long"))
        .withColumn("_isl", F.sum("_new").over(
            w.rowsBetween(W.unboundedPreceding, 0))))
    ivls = (islands.groupBy(id_col, "_isl")
            .agg(F.min("pos").alias("_s"),
                 (F.max("pos") + min_len).alias("_e"))
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list(
                F.struct(F.col("_s"), F.col("_e")))).alias("_ivl")))
    joined = toks0.join(ivls, id_col, "left")
    # Kept tokens as COMPLEMENT SLICES of the interval array (round
    # 18, guide §1.2 per-task work): the previous per-token
    # ``filter(idx, s -> !exists(_ivl, ...))`` evaluated an
    # interpreted lambda per token x interval — O(|tokens|·|ivls|)
    # HOF invocations per doc, ~20 s of the 44 s executor profile at
    # sf0.1. The islands are sorted, non-overlapping, half-open
    # [_s, _e) over 0-based token indices, so the kept tokens are
    # exactly the gaps between consecutive intervals (plus the
    # prefix before the first and the tail after the last): zip the
    # interval array against itself shifted by one sentinel and take
    # one ``slice`` per gap — O(|ivls|) lambda invocations and one
    # array copy, same order, same tokens, bit-identical ``cleaned``
    # / counts (equality pytest-pinned; NULL-token docs keep the
    # NULL kept array the filter form produced).
    ivl = F.coalesce(F.col("_ivl"),
                     F.array().cast("array<struct<_s:long,"
                                    "_e:long>>"))
    lo = F.array(F.struct(F.lit(0).cast("long").alias("_s"),
                          F.lit(0).cast("long").alias("_e")))
    hi = F.array(F.struct(F.size("_w").cast("long").alias("_s"),
                          F.lit(0).cast("long").alias("_e")))
    kept_arr = F.when(
        F.col("_w").isNotNull(),
        F.flatten(F.zip_with(
            F.concat(lo, ivl), F.concat(ivl, hi),
            lambda p, n: F.slice(F.col("_w"),
                                 (p["_e"] + 1).cast("int"),
                                 (n["_s"] - p["_e"]).cast("int")))))
    return (joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept_arr).alias("cleaned"),
        (F.size("_w") - F.size(kept_arr)).cast("long")
         .alias("n_removed"),
        F.size(kept_arr).cast("long").alias("n_kept")))


def remove_frequent_segments(docs: DataFrame, span_w: int = 4,
                             min_df: int = 2,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """(doc_id, cleaned, n_removed, n_kept): corpus-frequency
    BOILERPLATE removal — the CCNet/C4 "drop lines shared across
    many pages" rule in aligned-window form (the testdata corpus has
    no newlines, so a ``span_w``-token window is the line analog).
    Every window whose exact text occurs in ≥ ``min_df`` DISTINCT
    documents is deleted from EVERY document — including the first
    occurrence, which is what separates boilerplate removal from
    :func:`remove_duplicate_spans`: dedup keeps one copy of a
    repeated passage, but a nav-bar string stamped on every page of
    a crawl should keep zero. The two rules are NOT nested per
    window — a passage repeated twice WITHIN one document has
    df = 1, so dedup drops its second occurrence while this op keeps
    both (pytest-pinned).

    Scale shape: one explode (corpus token count / span_w rows), one
    span-keyed count-distinct aggregate (partial map-side distinct;
    skew bounded because a hot boilerplate span contributes one
    distinct per doc, not per occurrence), one equi-join back on the
    span key (Catalyst reuses the aggregate's shuffle partitioning),
    then the per-doc reassembly aggregate. Nothing quadratic; same
    bounds as :func:`cross_doc_span_dedup`."""
    spans = _aligned_spans(docs, span_w, text_col, id_col)
    dfreq = (spans.groupBy("span")
             .agg(F.count_distinct(id_col).alias("_df")))
    marked = spans.join(dfreq, "span")
    return _reassemble_spans(docs, marked,
                             F.col("_df") < F.lit(min_df),
                             span_w, text_col, id_col)


def remove_frequent_lines(docs: DataFrame, min_df: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """(doc_id, cleaned, n_removed, n_kept): the CCNet/C4/RefinedWeb
    line rule at its REAL grain (round 15 — VERDICT ask #3):
    documents split on newlines, and every line whose trimmed text
    occurs in ≥ ``min_df`` DISTINCT documents is deleted from EVERY
    document, first occurrence included — a nav bar stamped on N
    pages keeps ZERO copies. :func:`remove_frequent_segments` is the
    aligned-window approximation for newline-free corpora; WET text
    HAS newlines, and the published recipes (RefinedWeb, Dolma) key
    on exact lines regardless of token length, which fixed-width
    windows cannot reproduce.

    Matching key = the line trimmed of spaces/tabs; the UNTRIMMED
    line is what survives into ``cleaned`` (indentation is content,
    surrounding whitespace is not a different nav bar). Blank /
    whitespace-only lines are EXEMPT — they delimit paragraphs in
    every document by construction, and removing them would be
    structure destruction, not boilerplate removal. Document
    frequency counts DISTINCT docs, so a line repeated only WITHIN
    one document has df = 1 and survives (the
    ``remove_frequent_segments`` contract at line grain). CRLF
    line ends split too; ``cleaned`` re-joins with ``\\n``
    (normalization, documented). NULL texts pass through NULL.

    Scale shape: one explode (corpus line count rows), one
    line-keyed distinct-doc aggregate (partial map-side distinct;
    a hot boilerplate line contributes one distinct per doc, not
    per occurrence), one equi-join back on the line key, then ONE
    doc-keyed reassembly whose ``collect_list`` is bounded by the
    document's own line count — per-doc state, the
    ``_reassemble_spans`` bound. Nothing quadratic."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\r?\n"))
         .alias("idx", "line"))
    keyed = lines.withColumn(
        "_k", F.expr("trim(BOTH ' \t' FROM line)"))
    dfreq = (keyed.filter(F.col("_k") != "")
             .groupBy("_k")
             .agg(F.count_distinct(id_col).alias("_df")))
    marked = keyed.join(dfreq, "_k", "left")
    keep = F.col("_df").isNull() | (F.col("_df") < F.lit(min_df))
    kept_struct = F.when(keep, F.struct("idx", "line"))
    # Round-18 note: the _reassemble_spans doc-hash respread was
    # A/B'd here too and measured a lean LOSS (med 0.96->1.06 s;
    # line grain has far fewer rows per doc than the window grain) —
    # deliberately not applied.
    agg = (marked.groupBy(id_col)
           .agg(F.concat_ws("\n", F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.line)).alias("_body"),
                F.sum((~keep).cast("long")).alias("n_removed"),
                F.sum(keep.cast("long")).alias("n_kept")))
    return (docs.select(F.col(id_col), F.col(text_col))
            .join(agg, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col(text_col).isNull(),
                           F.lit(None).cast("string"))
                     .otherwise(F.coalesce("_body", F.lit("")))
                     .alias("cleaned"),
                    F.coalesce("n_removed", F.lit(0).cast("long"))
                     .alias("n_removed"),
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                     .alias("n_kept")))


def source_overlap_matrix(docs: DataFrame, span_w: int = 4,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          group_col: str = "source") -> DataFrame:
    """(pair, shared, total_a, total_b, overlap): the cross-source
    contamination matrix — for every unordered pair of corpus
    sources, how many DISTINCT ``span_w``-token windows appear in
    BOTH, alongside each side's distinct-window total and the
    overlap coefficient shared/min(total_a, total_b). The mixing
    diagnostic a pipeline reads before weighting sources: two
    "independent" crawls with a high coefficient are double-counting
    the same text, and the dedup budget should be spent across them,
    not within.

    Scale shape: one explode, one distinct aggregate on
    (source, span) — the heavy step, keyed by the span so partial
    map-side distinct applies — then a span-keyed self-join whose
    per-key fan-out is bounded by |sources| rows a side (a window
    can appear in at most every source once after the distinct), so
    the join output is ≤ C(|sources|, 2) per span, never quadratic
    in docs. The totals join is a broadcast of |sources| rows."""
    spans = _aligned_spans(docs, span_w, text_col, id_col,
                           extra_cols=(group_col,))
    # THREE consumers read the distinct (source, span) table (the
    # totals agg + both self-join sides) and the explode+distinct
    # subtree re-evaluates per consumer — measured CHEAPER than
    # persisting it (round-17 interleaved A/B: 1.12 s recomputed vs
    # 1.70 s persisted at sf0.1; the table is nearly window-count
    # sized with full span strings, so caching costs more than the
    # recompute — the span_dedup/bpe_train trade).
    sp = spans.select(group_col, "span").distinct()
    tot = sp.groupBy(group_col).agg(F.count("*").alias("_n"))
    a, b = sp.alias("a"), sp.alias("b")
    ga, gb = f"a.{group_col}", f"b.{group_col}"
    pairs = (a.join(b, (F.col("a.span") == F.col("b.span"))
                    & (F.col(ga) < F.col(gb)))
             .groupBy(F.col(ga).alias("_sa"), F.col(gb).alias("_sb"))
             .agg(F.count("*").alias("shared")))
    ta = F.broadcast(tot.select(F.col(group_col).alias("_sa"),
                                F.col("_n").alias("total_a")))
    tb = F.broadcast(tot.select(F.col(group_col).alias("_sb"),
                                F.col("_n").alias("total_b")))
    return (pairs.join(ta, "_sa").join(tb, "_sb")
            .select(F.concat_ws(">", "_sa", "_sb").alias("pair"),
                    F.col("shared").cast("long"),
                    F.col("total_a").cast("long"),
                    F.col("total_b").cast("long"),
                    F.round(F.col("shared")
                            / F.least("total_a", "total_b"), 6)
                     .alias("overlap")))


#: ``decontaminate_spans(transport="auto")`` direct-vs-Bloom cutover:
#: a benchmark universe whose Catalyst optimized-plan size estimate is
#: at or under this takes the plain LEFT SEMI join (AQE broadcasts the
#: universe; a Bloom prefilter is pure overhead), above it the
#: map-side Bloom route. Same 1 GiB bar as the other statistics
#: cutovers (:data:`SIG_GROUPED_MAX_BYTES`,
#: ``web.QUOTA_WINDOW_MAX_BYTES``): estimates are upper bounds —
#: real distinct-shingle payloads under a 1 GiB ESTIMATE broadcast
#: comfortably, and stat-less sources (huge sentinel) must land on
#: the scale-safe side.
DECONTAM_DIRECT_MAX_BYTES = 1 << 30


def decontaminate_spans(train_docs: DataFrame,
                        bench_docs: DataFrame | None = None,
                        k: int = 3, text_col: str = "text",
                        id_col: str = "doc_id",
                        bench_universe: DataFrame | None = None,
                        transport: str = "auto",
                        num_bits: int | str = "auto",
                        num_hashes: int = 5,
                        bits: list[int] | None = None,
                        bloom_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, cleaned, n_removed, n_kept): SPAN-LEVEL benchmark
    decontamination — the surgical complement of
    :func:`contamination_overlap`'s doc-level gate. Dropping a whole
    training document because one quoted benchmark sentence leaked
    into it throws away the 99% of the doc that is clean; real
    pipelines instead excise exactly the leaked passage. Every
    k-token SLIDING window (stride 1 — unlike the aligned windows of
    :func:`cross_doc_span_dedup`, a benchmark quote is caught at any
    phase) whose text appears verbatim in the benchmark shingle
    universe is masked; overlapping masked windows merge into
    contiguous contaminated intervals; the covered tokens are deleted
    and first the remaining tokens are stitched back in document
    order (whitespace normalizes to single spaces, as in
    :func:`remove_duplicate_spans`). Docs with no hits pass through
    with ``n_removed = 0``; sub-k and empty/null docs emit
    ``cleaned = ""`` for empty and their joined tokens otherwise —
    the op is TOTAL on degenerate inputs (round-8/9 bug classes:
    the window build carries the generate-filter clamp, and no
    division appears anywhere).

    Scale shape — every stage is doc- or shingle-keyed, nothing
    quadratic, no range join: interval union is the classic
    sweep-line turned into a DataFrame plan. Each hit window [s, s+k)
    becomes two EVENTS (+1 at s, −1 at s+k); events union with the
    positional token rows and ONE window function partitioned by the
    doc id (corpus-cardinality key, never global) runs the running
    coverage sum; a token is contaminated iff its coverage is
    positive. That replaces the naive tokens×hits BETWEEN-join
    (quadratic in the per-doc hit count for boilerplate-heavy docs)
    with |tokens| + 2·|hits| rows through one doc-keyed sort. The
    benchmark membership test is the same LEFT SEMI shape as
    :func:`contamination_overlap` (AQE broadcasts a small universe;
    a too-big-to-broadcast one takes the Bloom route). One final
    left join reattaches hit-free and degenerate docs.

    Bloom transport (round 10, mirrors
    :func:`contamination_overlap_bloom`): at stride 1 the window
    table is ≈ one row PER TOKEN — when the benchmark union is too
    big to broadcast, the LEFT SEMI join reshuffles essentially the
    whole tokenized corpus on the shingle key, the exact failure the
    doc-level gate already solved. ``transport="literal"`` /
    ``"broadcast"`` inserts the map-side Bloom probe
    on the window side FIRST, so only true hits plus the ~1%
    false-positive residue enter the exact semi join — which removes
    every false positive, making the output transport-invariant by
    construction (equality-pinned at a collision-heavy filter size,
    and the ``decontam_bloom`` gate family shares the direct route's
    oracle verbatim). ``bits`` / ``bloom_df`` are the same prebuilt
    amortization hooks as the doc-level gate's; ``"direct"`` keeps
    the plan of rounds ≤ 9 (4 exchanges, plan-asserted) for
    broadcastable universes.

    ``"auto"`` (the round-12 DEFAULT — the round-10 default was
    ``"direct"``, an API footgun: a naive caller with a
    too-big-to-broadcast benchmark union got the full per-token
    shuffle this docstring warns about) derives the route from
    universe STATISTICS, the same rule family as
    :func:`simhash_signatures`' formulation cutover: Catalyst's
    optimized-plan ``sizeInBytes`` of the distinct universe at or
    under :data:`DECONTAM_DIRECT_MAX_BYTES` picks ``"direct"`` (the
    universe broadcasts; a Bloom prefilter there is pure overhead),
    above it the Bloom route (then literal vs broadcast by
    ``num_bits`` vs :data:`BLOOM_LITERAL_MAX_BITS`, as in
    :func:`contamination_overlap_bloom`). Sources with no real stats
    (in-memory test fixtures, exotic sources → huge sentinel
    estimate) land on the scale-safe Bloom side; parquet scans report
    real file size. The selector is plan-shape-pinned on both sides
    of the cutover (`test_decontaminate_spans_auto_selector`).
    """
    if transport not in ("direct", "auto", "literal", "broadcast"):
        raise ValueError(f"unknown transport {transport!r}")
    if bench_universe is None:
        bench_universe = (shingle_table(bench_docs, k, text_col,
                                        id_col)
                          .select("shingle").distinct())
    # LOCKSTEP NOTE: this hook-validation + transport-resolution
    # block mirrors contamination_overlap_bloom's — they are NOT
    # factored because the two ops differ structurally (this one has
    # a "direct" semi-join route and probes sliding windows, the doc
    # gate probes docs), and a forced shared helper would have to
    # re-encode those differences as flags. When changing probe
    # sizing or transport rules, change BOTH sites (the round-12
    # lazy-width fix initially landed in only one).
    if num_bits == "auto" and (bits is not None
                               or bloom_df is not None):
        # Prebuilt hooks must state the width they were built with.
        raise ValueError(
            "prebuilt bits/bloom_df require the explicit num_bits "
            "they were built with (num_bits='auto' would probe at "
            "a different width -> false negatives)")
    if bits is not None:
        transport = "literal"
    elif bloom_df is not None:
        transport = "broadcast"
    elif transport == "auto":
        if _plan_size_bytes(bench_universe) <= DECONTAM_DIRECT_MAX_BYTES:
            transport = "direct"
        else:
            if num_bits == "auto":
                num_bits = _auto_num_bits(bench_universe)
            transport = ("literal" if num_bits <= BLOOM_LITERAL_MAX_BITS
                         else "broadcast")
    # Statistics-sized width resolves LAZILY — only the Bloom routes
    # read it. The old eager resolve charged every transport="direct"
    # caller (e.g. decontam_stream, once per micro-batch) a needless
    # JVM plan-stats roundtrip for a width it never used (round-12
    # review find).
    if transport in ("literal", "broadcast") and num_bits == "auto":
        num_bits = _auto_num_bits(bench_universe)
    toks = train_docs.select(F.col(id_col), words(text_col).alias("_w"))
    # Positional tokens, 1-based. words("") is [""] — the length
    # filter drops it so whitespace-only docs clean to "".
    tok_rows = (toks.select(F.col(id_col),
                            F.posexplode("_w").alias("_p0", "term"))
                .filter(F.length("term") > 0)
                .select(F.col(id_col),
                        (F.col("_p0") + 1).alias("pos"), "term",
                        F.lit(0).alias("delta"), F.lit(1).alias("ord")))
    # Sliding k-windows with 1-based start positions (the shared
    # _shingle_array carries the totality clamp; the bogus
    # single-window rows a sub-k doc would produce are removed by
    # the size filter itself).
    wins = (toks.filter(F.size("_w") >= k)
            .select(F.col(id_col),
                    F.posexplode(_shingle_array("_w", k))
                    .alias("_i0", "shingle")))
    if transport == "literal":
        if bits is None:
            bits = bloom_bits(bench_universe, "shingle",
                              num_bits, num_hashes)
        pre = wins.filter(bloom_contains(bits, "shingle",
                                         num_bits, num_hashes))
    elif transport == "broadcast":
        if bloom_df is None:
            bloom_df = bloom_filter_df(bench_universe, "shingle",
                                       num_bits, num_hashes)
        pre = bloom_prefilter(wins, "shingle", bloom_df,
                              num_bits, num_hashes)
    else:
        pre = wins
    hits = (pre.join(bench_universe, "shingle", "left_semi")
            .select(F.col(id_col), (F.col("_i0") + 1).alias("start")))
    # Both events come out of ONE explode over the hits subtree — a
    # union of two selects re-evaluates hits twice (two shingle
    # generates + two bench-universe builds, plan-verified), which
    # doubles the op's dominant cost at corpus scale.
    nul = F.lit(None).cast("string")
    ev = (hits.select(
              F.col(id_col),
              F.explode(F.array(
                  F.struct(F.col("start").alias("pos"),
                           F.lit(1).alias("delta")),
                  F.struct((F.col("start") + k).alias("pos"),
                           F.lit(-1).alias("delta")))).alias("_e"))
          .select(F.col(id_col), F.col("_e.pos").alias("pos"),
                  nul.alias("term"), F.col("_e.delta").alias("delta"),
                  F.lit(0).alias("ord")))
    # ord sorts every ±1 event at a position before the token AT that
    # position: a window opening at s covers token s; one closing at
    # s+k (exclusive end) has already released token s+k.
    w = (W.partitionBy(id_col).orderBy("pos", "ord")
         .rowsBetween(W.unboundedPreceding, 0))
    # Gated respread before the sweep (round 18, guide §2.5): AQE
    # coalesces the doc-keyed event shuffle by BYTES, blind to the
    # compute density of the sweep+reassembly stage on top of it —
    # profiled at sf0.1 as a 5 MB shuffle read by 4 tasks doing 3 s
    # of window+array_sort+concat work while 28 cores idled. The
    # explicit doc-hash repartition pins one full task wave and is
    # statistics-gated to small inputs (the shared fill-wave
    # break-even — a no-op at corpus scale, where the byte-sized
    # partitions AQE picks are right). Same single exchange either
    # way; partitioning never changes values.
    marked = (_spread_small_cached(tok_rows.unionByName(ev), id_col)
              .withColumn("_cov", F.sum("delta").over(w))
              .filter(F.col("ord") == 1))
    kept_struct = F.when(F.col("_cov") == 0, F.struct("pos", "term"))
    agg = (marked.groupBy(id_col)
           .agg(F.concat_ws(" ", F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.term)).alias("_body"),
                F.sum((F.col("_cov") > 0).cast("long"))
                 .alias("n_removed"),
                F.sum((F.col("_cov") == 0).cast("long"))
                 .alias("n_kept")))
    return (train_docs.select(F.col(id_col))
            .join(agg, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("_body", F.lit("")).alias("cleaned"),
                    F.coalesce("n_removed", F.lit(0).cast("long"))
                     .alias("n_removed"),
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                     .alias("n_kept")))


def cdc_chunk_dedup(docs: DataFrame, n_buckets: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/rsync idea at
    token granularity): chunk boundaries fall where the TOKEN's hash
    lands in bucket 0 — a pure function of content, so inserting or
    deleting text shifts only the chunks it touches, unlike the
    aligned windows of :func:`cross_doc_span_dedup` where one
    insertion re-phases every later window. Each chunk's exact text
    is then deduplicated corpus-wide against its first occurrence.
    Returns one row per chunk:
    (id, chunk_id, n_toks, chunk_text, first_id, first_pos, is_dup),
    first occurrence = lexicographic min(struct(id, chunk_id)) —
    exact for any bigint id.

    Scale shape: one explode, a doc-keyed cumulative sum (windows
    partitioned by the high-cardinality doc id — never global), one
    (doc, chunk) aggregate whose ordering is an ``array_sort`` over
    collected (idx, term) structs (deterministic under any partition
    order), one chunk-text aggregate + same-key join. Expected chunk
    length = ``n_buckets`` tokens; the chunk text can be replaced by
    its md5 in the shuffle key at scale."""
    if n_buckets < 1:
        raise ValueError(
            f"n_buckets must be >= 1, got {n_buckets}")
    from pyspark.sql.window import Window as W

    from picoprobedataflow_spark.functions.text import words

    toks = (docs.select(F.col(id_col),
                        F.posexplode(words(text_col))
                        .alias("idx", "term")))
    bucket = (F.conv(F.substring(F.md5(F.col("term").cast("binary")),
                                 1, 8), 16, 10).cast("long")
              % n_buckets)
    w = (W.partitionBy(id_col).orderBy("idx")
         .rowsBetween(W.unboundedPreceding, 0))
    chunked = (toks.withColumn("_b", (bucket == 0).cast("int"))
               .withColumn("chunk_id", F.sum("_b").over(w)))
    chunks = (chunked.groupBy(id_col, "chunk_id")
              .agg(F.count("*").cast("long").alias("n_toks"),
                   F.concat_ws(" ", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("idx", "term"))),
                       lambda s: s.term)).alias("chunk_text")))
    key = F.struct(F.col(id_col).cast("long").alias("id"),
                   F.col("chunk_id").cast("long").alias("pos"))
    chunks = chunks.withColumn("_key", key)
    firsts = (chunks.groupBy("chunk_text")
              .agg(F.min("_key").alias("_first")))
    return (chunks.join(firsts, "chunk_text")
            .select(F.col(id_col), "chunk_id", "n_toks", "chunk_text",
                    F.col("_first.id").alias("first_id"),
                    F.col("_first.pos").alias("first_pos"),
                    (F.col("_key") != F.col("_first"))
                    .alias("is_dup")))

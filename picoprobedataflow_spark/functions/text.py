"""Text-analysis functions for the training-data pipeline operators:
tokenization, shingling, quality scoring, language-ID heuristics, and
document fingerprinting. All pure ``pyspark.sql.functions`` column
expressions (JVM-side, codegen) — no Python in the hot path — and every
expression has a straightforward ANSI-SQL twin for the DuckDB oracle.
One deliberate exception: :func:`compression_ratio` is an
Arrow-batched pandas UDF (zlib has no JVM/SQL expression), pinned by
pytest instead of an oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE_RE = r"\s+"
#: "BPE-ish" token splitter: words, numbers, or single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[^.,!?;:]"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and deterministic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "es": ("el", "la", "los", "y", "es", "un", "una"),
    "zh": ("的", "是", "不", "了", "在", "人", "有"),
}


def words(text: Column | str) -> Column:
    """Whitespace tokenization (empty trailing token trimmed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), WHITESPACE_RE)


def n_words(text: Column | str) -> Column:
    return F.size(words(text))


def n_tokens_bpe(text: Column | str) -> Column:
    """Token count under the BPE-ish regex (words + digit runs + punct).

    ``regexp_count`` counts non-overlapping matches without
    materializing the match array (``size(regexp_extract_all(...))``
    is value-identical but allocates every token string just to throw
    it away — the difference is ~40% of the text-quality scan)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars (quality-score component).
    Counted directly; the regexp_replace(strip-non-punct)+length form
    is value-identical but builds a rewritten string per row."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.regexp_count(c, F.lit(r"[.,!?;:]"))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_word_len(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    total = F.length(F.regexp_replace(c, WHITESPACE_RE, ""))
    return total / F.greatest(n_words(c), F.lit(1))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    """Count of whitespace tokens that are stopwords of ``lang``."""
    toks = words(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    return stopword_hits(text, lang) / F.greatest(n_words(text), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards moderate length and
    stopword presence, penalizes punctuation soup. Deterministic,
    SQL-expressible; thresholding it gives a quality filter."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    sw_score = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    punct_pen = F.least(punct_ratio(c) * 4.0, F.lit(1.0))
    return F.round(0.5 * len_score + 0.5 * sw_score - 0.25 * punct_pen, 6)


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles (n-grams over the whitespace tokens) — the input
    to Jaccard / MinHash dedup. Built with ``transform`` over token
    indices: JVM-side, no explode needed until the caller wants rows."""
    toks = words(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)])),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def fingerprint_md5(text: Column | str) -> Column:
    """Whole-document fingerprint (exact-dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c.cast("binary"))


def normalize_text(text: Column | str) -> Column:
    """Conservative dedup normalization: lowercase + collapse runs of
    whitespace to single spaces + trim. Catches the trivially-edited
    duplicates a raw-byte hash misses (case flips, reflowed
    whitespace, trailing newlines) without the locale/Unicode-class
    risk of aggressive punctuation stripping — the normalization is
    byte-reproducible across engines, which is what lets
    :func:`fingerprint_normalized` sit under a cross-engine hash
    gate. Row-local, JVM-side."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_normalized(text: Column | str) -> Column:
    """Exact-dedup key over :func:`normalize_text` — the
    normalized-dedup stage of a crawl pipeline (dedupe "same article,
    different whitespace/case" before the near-dup passes spend
    shingle joins on them)."""
    return F.md5(normalize_text(text).cast("binary"))


#: Elements dropped WITH their content during HTML→text extraction:
#: navigation / footer / head are boilerplate that would otherwise
#: dominate near-dup shingles across every page of a site.
_HTML_BOILERPLATE_RE = r"<(head|nav|footer)>.*?</(head|nav|footer)>"


def html_to_text(html: Column | str) -> Column:
    """HTML → text extraction, the first stage of web-corpus
    curation: drop boilerplate elements (head/nav/footer) WITH their
    content, replace every remaining tag with a space, collapse
    whitespace, trim. Regex-based (non-greedy element bodies, no
    backtracking constructs) — deliberately the cheap row-local
    JVM-side approximation: a DOM-accurate extractor is a Pandas-UDF
    slot with the same column contract, this is the version that
    runs at crawl scale without leaving codegen. Single-line HTML
    assumption (``.`` does not cross newlines in either engine);
    pre-collapse newlines first if the source is pretty-printed."""
    c = F.col(html) if isinstance(html, str) else html
    no_boiler = F.regexp_replace(c, _HTML_BOILERPLATE_RE, "")
    no_tags = F.regexp_replace(no_boiler, r"<[^>]*>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def html_tag_count(html: Column | str) -> Column:
    """Number of HTML tags in the raw markup — the markup-density
    signal (tag count vs extracted-text length separates content
    pages from link farms)."""
    c = F.col(html) if isinstance(html, str) else html
    return (F.size(F.split(c, r"<[^>]*>")) - 1).cast("long")


def fingerprint_rolling(text: Column | str, window: int = 64) -> Column:
    """Cheap rolling-style fingerprint: md5 of head window + md5 of tail
    window + length — catches append-only edits that a full-text hash
    misses while staying O(1) per doc. (Reference analog: checksum-based
    transfer skip, sync_level=checksum.)"""
    c = F.col(text) if isinstance(text, str) else text
    head = F.md5(F.substring(c, 1, window).cast("binary"))
    tail = F.md5(F.substring(F.reverse(c), 1, window).cast("binary"))
    return F.concat_ws(":", head, tail, F.length(c).cast("string"))


def langid_scores(text: Column | str) -> dict[str, Column]:
    """Stopword-hit score per language (language-ID heuristic)."""
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def tfidf_vectors(docs, min_df: int = 1, text_col: str = "text",
                  id_col: str = "doc_id"):
    """Sparse TF-IDF vectors per document as
    (doc_id, array<struct<term, weight>>), the classic
    log-scaled idf = ln((N+1)/(df+1)) + 1 with raw term counts.

    Shape at scale: one explode → (doc, term) count aggregate → join
    against the (term, df) vocabulary (broadcast when it fits, else a
    term-hash shuffle both sides share) → collect_list per doc. The
    corpus size N is a scalar aggregate broadcast by Catalyst, not a
    driver round-trip. Terms below ``min_df`` drop — the same
    vocabulary floor `vocabulary stats` applies."""
    from pyspark.sql import functions as F

    toks = docs.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_tbl = (toks.groupBy("term")
              .agg(F.countDistinct(id_col).alias("df"))
              .filter(F.col("df") >= min_df))
    n_docs = docs.select(F.countDistinct(id_col).alias("n"))
    idf = (df_tbl.crossJoin(n_docs)
           .select("term",
                   (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1.0)
                   .alias("idf")))
    weighted = (tf.join(idf, "term")
                .select(F.col(id_col), "term",
                        (F.col("tf") * F.col("idf")).alias("weight")))
    vec = F.array_sort(F.collect_list(F.struct("term", "weight")))
    return weighted.groupBy(id_col).agg(vec.alias("tfidf"))


def mixture_sample(docs, weights: dict[str, float],
                   by_col: str = "source", id_col: str = "doc_id",
                   salt: str = "mix"):
    """Deterministic data-mixture sampling: keep a ``weights[source]``
    fraction of each source's documents (weights in [0, 1]; missing
    sources drop). The keep decision is md5(salt:doc_id) mod 10000 <
    weight*10000 — a pure function of the id, so the mixture is stable
    across runs, engines, partitionings and repeated epochs (never
    ``rand()``), and changing one source's weight never reshuffles
    which documents another source keeps. This is the corpus-mixing
    primitive of LLM training-data prep (upweight code, downweight
    crawl, ...), composed from the same hash-bucket trick as the
    train/val/test split."""
    from pyspark.sql import functions as F

    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"),
                       F.col(id_col).cast("string")).cast("binary")),
        1, 8), 16, 10).cast("long") % 10000)
    thresh = F.create_map(*[
        F.lit(x) for kv in weights.items()
        for x in (kv[0], int(round(kv[1] * 10000)))])
    return docs.filter(bucket < F.coalesce(thresh[F.col(by_col)],
                                           F.lit(0)))


def stratified_sample(docs, n_per_stratum: int,
                      by_col: str = "source", id_col: str = "doc_id",
                      salt: str = "strat", shard_span: int = 32):
    """Deterministic EXACT-QUOTA stratified sampling: the
    ``n_per_stratum`` documents with the smallest
    (md5(salt:id), id) rank within each stratum — strata with fewer
    docs keep them all. Complements :func:`mixture_sample` (which
    keeps a *fraction*): quotas are what you want when balancing
    strata of wildly different sizes (cap the crawl, keep all the
    code). Pure function of the ids — stable across runs, engines,
    partitionings.

    Scale shape: TWO-PHASE top-N, the per-group generalization of
    TakeOrderedAndProject (same discipline as
    ``operators.packing.pack_sequences``). A per-(stratum, shard)
    window takes each shard's local top-N in parallel, then the
    per-stratum window ranks only the surviving ≤ N·shards candidate
    rows — a single-window form would instead total-order every
    stratum's full membership through one partition (a handful of
    strata = a handful of reducers sorting the whole corpus).
    Single-window ≡ two-phase is pytest-asserted."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    h = F.md5(F.concat(F.lit(salt + ":"),
                       F.col(id_col).cast("string")).cast("binary"))
    shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shard_span))
    w1 = W.partitionBy(by_col, shard).orderBy(h, id_col)
    cand = (docs.withColumn("_r1", F.row_number().over(w1))
                .filter(F.col("_r1") <= n_per_stratum).drop("_r1"))
    w2 = W.partitionBy(by_col).orderBy(h, id_col)
    return (cand.withColumn("_r", F.row_number().over(w2))
                .filter(F.col("_r") <= n_per_stratum).drop("_r"))


#: Gopher-style repetition-filter thresholds (calibrated on the test
#: corpus so the keep/drop split is non-degenerate; the shapes follow
#: Rae et al. 2021 §A1.1 "repetition removal").
REPETITION_THRESHOLDS = {
    "top_word_frac": 0.10,
    "top_bigram_frac": 0.18,
    "dup_trigram_frac": 0.10,
}


def repetition_metrics(docs, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Gopher-style per-document repetition signals + keep/drop flag:

    - ``top_word_frac``   — occurrences of the most frequent word /
      total words (1-gram repetition);
    - ``top_bigram_frac`` — character mass (count × gram length) of
      the heaviest word 2-gram / total 2-gram mass;
    - ``dup_trigram_frac``— character mass of 3-grams occurring more
      than once / total 3-gram mass;
    - ``keep``            — all three under `REPETITION_THRESHOLDS`.

    Shape at scale: ONE scan builds the tagged (n, gram) array for
    n∈{1,2,3} JVM-side (`shingles` = transform over token indices, no
    intermediate rows), one explode, then a (doc, n, gram) count with
    map-side combine, a (doc, n) reduce, and a tiny (doc) pivot —
    the same two-shuffle profile as the vocabulary stage, keyed by
    doc_id so there is no skew key (a hot gram never concentrates:
    doc_id is in every grouping key). All divisions are
    exact-integer-sum / exact-integer-sum, so the doubles are
    bit-identical to any engine that computes the same counts."""
    gram_arrays = [
        F.transform(words(text_col),
                    lambda g: F.struct(F.lit(1).alias("n"), g.alias("g"))),
        F.transform(shingles(text_col, k=2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))),
        F.transform(shingles(text_col, k=3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))),
    ]
    ex = docs.select(F.col(id_col),
                     F.explode(F.flatten(F.array(*gram_arrays))).alias("t"))
    counted = (ex.select(id_col, F.col("t.n").alias("n"),
                         F.col("t.g").alias("g"))
               .groupBy(id_col, "n", "g").agg(F.count("*").alias("c")))
    mass = F.col("c") * F.length("g")
    per_n = counted.groupBy(id_col, "n").agg(
        F.max("c").alias("max_c"),
        F.sum("c").cast("long").alias("cnt"),
        F.max(mass).cast("long").alias("top_mass"),
        F.sum(mass).cast("long").alias("mass"),
        F.sum(F.when(F.col("c") > 1, mass).otherwise(0))
         .cast("long").alias("dup_mass"))
    pick = lambda n, expr: F.max(F.when(F.col("n") == n, expr))  # noqa: E731
    wide = per_n.groupBy(id_col).agg(
        pick(1, F.col("max_c") / F.col("cnt")).alias("top_word_frac"),
        pick(2, F.col("top_mass") / F.col("mass")).alias("top_bigram_frac"),
        pick(3, F.col("dup_mass") / F.col("mass")).alias("dup_trigram_frac"))
    th = REPETITION_THRESHOLDS
    return wide.withColumn(
        "keep",
        (F.col("top_word_frac") <= th["top_word_frac"])
        & (F.col("top_bigram_frac") <= th["top_bigram_frac"])
        & (F.col("dup_trigram_frac") <= th["dup_trigram_frac"]))


#: PII patterns (Java-regex and RE2 compatible — no backrefs, no
#: lookarounds) and their redaction tokens.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    # separators deliberately exclude '.' so dotted IPv4 quads never
    # read as phone numbers (dotted phone forms are the trade-off)
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
)


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (emails, phone-ish digit runs, IPv4
    literals) — `regexp_count`, JVM-side, no match materialization."""
    c = F.col(text) if isinstance(text, str) else text
    return {kind: F.regexp_count(c, F.lit(pat))
            for kind, pat, _ in PII_PATTERNS}


def scrub_pii(text: Column | str) -> Column:
    """Redact PII in-place (email → ``<EMAIL>`` etc.), the scrubbing
    stage of a training-data pipeline. Order matters: emails first so
    their digit runs are gone before the phone pattern sees them."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def c4_clean_lines(text: Column | str) -> Column:
    """C4-style line filter (Raffel et al. 2020 §2.2): keep only lines
    that end in terminal punctuation, have ≥ 4 words, and don't carry
    the boilerplate markers (``javascript``, ``{``, ``lorem ipsum``,
    ``cookie``). Rebuilds the document from the surviving lines — an
    array pipeline (split → filter → join), all JVM-side."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, r"\n")
    keep = F.filter(lines, lambda ln: (
        ln.rlike(r"[.!?\"']\s*$")
        & (F.size(F.split(F.trim(ln), r"\s+")) >= 4)
        & ~F.lower(ln).rlike(r"javascript|lorem ipsum|cookie")
        & ~ln.contains("{")))
    return F.array_join(keep, "\n")


def _lang_trigram_profiles() -> dict[str, tuple[str, ...]]:
    """Discriminative character trigrams per language, derived
    deterministically from the stopword lists: the trigrams of the
    space-joined stopword string that occur in no other language's
    profile. Module-level constant — identical on driver, executors
    and any oracle."""
    # trigrams of the space-joined list PLUS the bare stopwords —
    # the bare forms are what carry scripts without word boundaries
    # (zh: single-char stopwords appear unpadded in running text).
    raw = {lang: {(" " + " ".join(ws) + " ")[i:i + 3]
                  for i in range(len(" " + " ".join(ws) + " ") - 2)}
           | set(ws)
           for lang, ws in STOPWORDS.items()}
    out = {}
    for lang, tris in raw.items():
        others = set().union(*(t for l2, t in raw.items() if l2 != lang))
        out[lang] = tuple(sorted(tris - others))
    return out


LANG_TRIGRAMS = _lang_trigram_profiles()


def langid_ngram_scores(text: Column | str) -> dict[str, Column]:
    """Character-n-gram language-ID scores: per language, total
    occurrences of its discriminative trigrams in the lowercased,
    space-padded text — the n-gram-profile heuristic (Cavnar &
    Trenkle-style, reduced to discriminative trigrams so scoring is a
    handful of ``regexp_count`` expressions, all JVM-side). Unlike the
    stopword variant this needs no tokenizer, so it survives scripts
    without word boundaries (zh)."""
    import re as _re

    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(F.trim(c)), F.lit(" "))
    out = {}
    for lang, tris in LANG_TRIGRAMS.items():
        score = None
        for t in tris:
            cnt = F.regexp_count(padded, F.lit(_re.escape(t)))
            score = cnt if score is None else score + cnt
        out[lang] = (score if score is not None else F.lit(0)).cast("long")
    return out


def langid_ngram(text: Column | str) -> Column:
    """argmax over :func:`langid_ngram_scores` with the same
    fixed-priority tie-break as the stopword variant."""
    scores = langid_ngram_scores(text)
    g = F.greatest(*scores.values())
    expr = None
    for lang in STOPWORDS:
        cond = scores[lang] == g
        expr = (F.when(cond, F.lit(lang)) if expr is None
                else expr.when(cond, F.lit(lang)))
    return expr


def bm25_scores(docs, query_terms, k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id"):
    """Okapi BM25 relevance of every document against a fixed query
    term set: ``sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
    with the Lucene non-negative idf ``ln((N-df+0.5)/(df+0.5) + 1)``.
    Returns (id_col, score), unrounded — callers round before ranking
    (catalog encoding rule) so a last-ulp ``ln`` difference cannot
    flip a top-k boundary.

    Scale shape: the token stream is filtered to the |Q| query terms
    BEFORE any aggregate (an ``isin`` over a literal array inside the
    explode projection — the dominant data reduction, |Q| terms not
    |vocab|), and the document length rides along the explode so tf
    and dl come out of ONE (doc, term) hash aggregate — no separate
    per-doc length join. df/N/avgdl are |Q|-row / 1-row aggregates
    broadcast back (Catalyst scalar broadcasts, never a driver
    round-trip); the per-doc score sum is the only other shuffle.
    This is the retrieval scorer of a training-data search/filter
    loop (the reference greps its run logs for marker strings,
    flow_analyzer.py:113-121; BM25 is the ranked generalization).
    """
    from pyspark.sql import functions as F

    terms = [str(t) for t in query_terms]
    toks = docs.select(
        F.col(id_col),
        n_words(text_col).cast("double").alias("dl"),
        F.explode(words(text_col)).alias("term"),
    ).filter(F.col("term").isin(terms))
    # tf is tiny (≤ |docs|·|Q| rows after the query-term filter) and
    # feeds BOTH the df aggregate and the score join; materialize it
    # so the tokenize/explode pipeline runs exactly once (column
    # pruning gives the two consumers different scan schemas, so
    # ReuseExchange alone would not deduplicate them).
    tf = (toks.groupBy(id_col, "term")
          .agg(F.count("*").cast("double").alias("tf"),
               F.max("dl").alias("dl"))
          ).localCheckpoint(eager=True)
    # df from the tf aggregate: one row per (doc, term), so the
    # per-term row count IS the document frequency.
    dfq = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df"))
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(n_words(text_col).cast("double")).alias("avgdl"))
    idf = (dfq.crossJoin(F.broadcast(stats))
           .select("term", "avgdl",
                   F.log((F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5) + 1.0).alias("idf")))
    per_term = (tf.join(F.broadcast(idf), "term")
                .select(F.col(id_col),
                        (F.col("idf") * F.col("tf") * (k1 + 1.0)
                         / (F.col("tf")
                            + k1 * (1.0 - b
                                    + b * F.col("dl") / F.col("avgdl"))))
                        .alias("s")))
    return per_term.groupBy(id_col).agg(F.sum("s").alias("score"))


def unigram_logprob(docs, text_col: str = "text",
                    id_col: str = "doc_id"):
    """Corpus-unigram language-model score per document — the
    CCNet-style LM quality filter: fit add-one-smoothed unigram
    probabilities on the corpus itself, then score each document by
    its mean token log-probability (higher = more typical; the
    filter's drop-tail is the atypical-junk end). Returns
    (id, n_tok, avg_logprob) with ``avg_logprob`` unrounded — the
    catalog entry rounds before the gate.

    Scale shape: one explode → (doc, term) tf aggregate; the unigram
    table is (term, count) — true-vocabulary-bounded (Heaps' law),
    broadcast back; corpus totals are 1-row scalar aggregates. The
    per-doc score is one more hash aggregate keyed by the
    high-cardinality doc id. Nothing touches the driver but k-row
    literals."""
    from pyspark.sql import functions as F

    toks = docs.select(F.col(id_col),
                       F.explode(words(text_col)).alias("term"))
    # tf feeds the unigram counts AND the scoring join; materialize
    # so the corpus explodes exactly once (at 100 TB this is a
    # persist-to-storage of the (doc, term, tf) table — the standard
    # shape for multi-consumer featurization intermediates).
    tf = (toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    # Corpus counts from the tf aggregate (Σ per-term tf), not a
    # second explode.
    uni = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = uni.agg(F.sum("cnt").alias("n_total"),
                     F.count("*").alias("n_vocab"))
    logp = (uni.crossJoin(F.broadcast(totals))
            .select("term",
                    F.log((F.col("cnt") + 1.0)
                          / (F.col("n_total") + F.col("n_vocab")))
                    .alias("lp")))
    scored = (tf.join(F.broadcast(logp), "term")
              .groupBy(id_col)
              .agg(F.sum("tf").cast("long").alias("n_tok"),
                   F.sum(F.col("tf") * F.col("lp")).alias("sum_lp")))
    return scored.select(
        F.col(id_col), "n_tok",
        (F.col("sum_lp") / F.col("n_tok")).alias("avg_logprob"))


def bigram_logprob(docs, text_col: str = "text",
                   id_col: str = "doc_id"):
    """Corpus-bigram language-model score per document — the
    context-sensitive step up from :func:`unigram_logprob` (CCNet's
    KenLM filter with the n-gram order an exact cross-engine replay
    can carry): fit add-one-smoothed bigram probabilities
    P(b|a) = (C(a,b) + 1) / (C(a) + V) on the corpus itself — C(a)
    the context's total bigram occurrences, V the distinct-context
    count — then score each doc by its mean bigram log-probability.
    Every scored bigram is in the corpus table by construction (the
    corpus contains the doc), so scoring is a broadcast join against
    the observed-bigram table, never a dense vocab² surface.

    Scale shape: one explode → (doc, a, b) tf aggregate,
    materialized once for its two consumers (corpus counts and the
    scoring join); the bigram and context tables are
    observed-n-gram-bounded (Heaps' law), broadcast back; the
    distinct-context count is a 1-row scalar. Per-doc scoring is one
    hash aggregate keyed by the high-cardinality doc id."""
    from pyspark.sql import functions as F

    pairs = F.explode(F.expr(
        f"transform(slice(_w, 1, greatest(size(_w) - 1, 0)),"
        f" (x, i) -> struct(x AS a, element_at(_w, i + 2) AS b))"))
    bi = (docs.select(F.col(id_col), words(text_col).alias("_w"))
          .select(F.col(id_col), pairs.alias("_p"))
          .select(F.col(id_col), F.col("_p.a").alias("a"),
                  F.col("_p.b").alias("b")))
    tf = (bi.groupBy(id_col, "a", "b").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    big = tf.groupBy("a", "b").agg(F.sum("tf").alias("cnt"))
    ctx = big.groupBy("a").agg(F.sum("cnt").alias("ctx_cnt"))
    nv = ctx.agg(F.count("*").alias("n_ctx"))
    logp = (big.join(F.broadcast(ctx), "a")
            .crossJoin(F.broadcast(nv))
            .select("a", "b",
                    F.log((F.col("cnt") + 1.0)
                          / (F.col("ctx_cnt") + F.col("n_ctx")))
                    .alias("lp")))
    scored = (tf.join(F.broadcast(logp), ["a", "b"])
              .groupBy(id_col)
              .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                   F.sum(F.col("tf") * F.col("lp")).alias("sum_lp")))
    return scored.select(
        F.col(id_col), "n_bigrams",
        (F.col("sum_lp") / F.col("n_bigrams")).alias("avg_logprob"))


def compression_ratio(text_col: str = "text"):
    """Per-document zlib compression ratio (compressed/raw bytes) as
    an Arrow-batched pandas UDF — the classic entropy junk detector:
    repetitive spam and boilerplate compress far below natural prose
    (ratios under ~0.3 at level 6), random noise sits near 1.0. The
    cheap, model-free cousin of LM-perplexity filtering, used as a
    pre-filter so the LM only scores plausible text.

    Python is unavoidable here (no zlib expression exists JVM-side),
    so it is the sanctioned slow path: @pandas_udf over Arrow
    batches, never per-row Python. Not SQL-oracle-expressible
    (DuckDB has no zlib scalar) — pytest pins values against direct
    zlib calls."""
    import zlib

    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _ratio(texts):
        import pandas as pd

        return pd.Series([
            (len(zlib.compress(t.encode("utf-8"), 6))
             / max(len(t.encode("utf-8")), 1)) if t is not None else None
            for t in texts])

    return _ratio(F.col(text_col))


def nfc_normalize(text_col: str = "text"):
    """Unicode NFC normalization as an Arrow-batched pandas UDF — the
    multilingual-corpus cleanup step that makes byte-level dedup and
    fingerprinting see 'café' (precomposed U+00E9) and 'cafe'+U+0301
    (decomposed) as the same document. Without it, every exact-hash
    stage (content_fingerprints, span dedup, decontamination) treats
    canonically-equivalent text as distinct, silently halving recall
    on corpora that mix keyboard input with OCR/legacy encodings.

    Python is unavoidable here (Spark exposes no Unicode normalizer
    JVM-side), so this is the sanctioned slow path: @pandas_udf over
    Arrow batches, never per-row Python. Unlike compression_ratio it
    IS SQL-oracle-expressible — DuckDB ships ``nfc_normalize`` —
    so the ``nfc`` curation family hash-pins CPython's unicodedata
    against DuckDB's utf8proc on adversarial sequences (combining
    marks, Hangul jamo, mark-without-precomposed-form, stacked
    marks). None passes through."""
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(texts):
        import pandas as pd

        return pd.Series([
            unicodedata.normalize("NFC", t) if t is not None else None
            for t in texts])

    return _nfc(F.col(text_col))


def dsir_importance_weights(docs, target: Column | None = None,
                            n_buckets: int = 64,
                            passthrough: tuple[str, ...] = (),
                            text_col: str = "text",
                            id_col: str = "doc_id"):
    """DSIR-style data selection (Xie et al., NeurIPS 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of its hashed-bigram
    features under a target vs raw bag-of-ngrams model — positive
    weight = looks more like the target distribution than the corpus
    average, the signal importance RESAMPLING keeps.

    ``target`` is a boolean Column marking the in-domain exemplar
    docs (default: gold ``lang == 'en'``); both models are add-one-
    smoothed multinomials over ``n_buckets`` hashed-bigram buckets
    (feature hashing bounds the model at ``n_buckets`` rows no matter
    the corpus vocabulary). Returns (id, *passthrough, w) for docs
    with ≥ 2 tokens; ``w`` is unrounded — callers round before any
    gate.

    Scale shape: bigram buckets are computed ROW-LOCALLY (the token
    array materializes once; each bucket is a hash of two adjacent
    tokens) and exploded once into a (doc, bucket) table that feeds
    the raw counts, the target counts, and the scoring join — at
    100 TB this is the persist-once multi-consumer featurization
    intermediate. Both models and their totals are ≤ n_buckets rows
    (broadcast); the per-doc weight is one hash aggregate keyed by
    doc id. Nothing touches the driver."""
    from pyspark.storagelevel import StorageLevel

    from picoprobedataflow_spark.functions.scalar import portable_hash64

    if target is None:
        target = F.col("lang") == "en"
    extra = list(passthrough)
    d = (docs.select(F.col(id_col), *extra, target.alias("_t"),
                     words(text_col).alias("_toks"))
             .filter(F.size("_toks") >= 2))
    # greatest(.., 1): InferFiltersFromGenerate pushes a size(_bk)>0
    # predicate below this projection and codegen CSE then evaluates
    # the transform on PRE-filter rows too, so the expression must be
    # total — sequence(1, 0) descends to [1, 0] and slice(_, 0, 2)
    # throws. Sub-2-token rows produce a junk bucket here and are
    # still dropped by the size>=2 conjunct.
    d = d.select(
        F.col(id_col), *extra, "_t",
        F.transform(F.sequence(F.lit(1),
                               F.greatest(F.size("_toks") - 1, F.lit(1))),
                    lambda i: F.pmod(
                        portable_hash64(F.concat(
                            F.lit("dsir:"),
                            F.concat_ws(" ", F.slice("_toks", i, 2)))),
                        F.lit(n_buckets))).alias("_bk"))
    big = (d.select(F.col(id_col), *extra, "_t",
                    F.explode("_bk").alias("b"))
            .persist(StorageLevel.MEMORY_ONLY))
    raw = big.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (big.filter(F.col("_t")).groupBy("b")
              .agg(F.count("*").alias("ct")))
    totals = (big.agg(
        F.count("*").alias("tr"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("tt")))
    lr = (raw.join(tgt, "b", "left")
             .crossJoin(F.broadcast(totals))
             .select("b",
                     (F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
                            / (F.col("tt") + F.lit(n_buckets)))
                      - F.log((F.col("cr") + 1.0)
                              / (F.col("tr") + F.lit(n_buckets))))
                     .alias("lr")))
    return (big.join(F.broadcast(lr), "b")
               .groupBy(id_col, *extra)
               .agg(F.sum("lr").alias("w")))


def zipf_slope(docs, group_col: str = "source",
               text_col: str = "text", top_n: int = 100):
    """(group, n_terms, slope, r2): per-group Zipf fit — the
    least-squares slope of log(term frequency) vs log(rank) over the
    ``top_n`` head terms, with its r². The corpus-health diagnostic:
    natural language sits near slope −1 with high r²; template spam
    and machine-generated filler flatten the head (slope → 0) or
    break the power-law fit (r² drops), so a source whose slope
    drifts between crawls changed its text-generating process, not
    just its volume.

    Scale shape: one token explode + (group, term) count — vocab-
    bounded per group — then a per-group rank window (partitioned by
    the group, never a global window) cut to the head before the
    covariance aggregate. slope = covar_pop/var_pop and r² = corr²,
    which is exactly DuckDB's regr_slope/regr_r2, so the family
    hash-pins the regression cross-engine."""
    from pyspark.sql.window import Window as W

    toks = docs.select(F.col(group_col),
                       F.explode(words(text_col)).alias("tok"))
    tf = toks.groupBy(group_col, "tok").agg(F.count("*").alias("tf"))
    w = W.partitionBy(group_col).orderBy(F.desc("tf"), F.asc("tok"))
    head = (tf.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= top_n)
            .withColumn("_x", F.log(F.col("rk").cast("double")))
            .withColumn("_y", F.log(F.col("tf").cast("double"))))
    # r² via covar²/(vx·vy) rather than corr(): ANSI-mode corr
    # throws DIVIDE_BY_ZERO on a constant-y group (a perfectly flat
    # head), where DuckDB's regr_r2 defines the fit as exact (1.0) —
    # guard the zero-variance case explicitly to the same value.
    agg = (head.groupBy(group_col)
           .agg(F.count("*").cast("long").alias("n_terms"),
                F.covar_pop("_x", "_y").alias("_cxy"),
                F.var_pop("_x").alias("_vx"),
                F.var_pop("_y").alias("_vy")))
    r2 = F.when(F.col("_vy") == 0, F.lit(1.0)).otherwise(
        F.round(F.col("_cxy") * F.col("_cxy")
                / (F.col("_vx") * F.col("_vy")), 6))
    return (agg.filter(F.col("n_terms") >= 2)
            .select(group_col, "n_terms",
                    F.round(F.col("_cxy") / F.col("_vx"), 6)
                     .alias("slope"),
                    r2.alias("r2")))


def pmi_cooccurrence(docs, window: int = 5, min_count: int = 2,
                     text_col: str = "text"):
    """Corpus collocation statistics: pointwise mutual information
    over unordered within-window token pairs — the classic
    phrase-mining / feature-engineering table (word2vec-era PMI;
    Mikolov-style phrase detection thresholds on exactly this).
    Returns (term_a, term_b, n_pair, pmi) with ``term_a <= term_b``,
    ``n_pair >= min_count`` and::

        pmi = ln( (n_pair / T_pairs) / ((c_a / T_tok) · (c_b / T_tok)) )

    where the pair space is every unordered token pair at distance
    ≤ ``window`` inside a document, and the unigram space is every
    token of every (non-NULL) document. Identical-token pairs
    (a word co-occurring with itself) are counted and reported —
    callers mining phrases filter them, callers measuring repetition
    want them.

    Scale shape: pair generation is ROW-LOCAL (one higher-order
    flatten/transform over the token array — no doc self-join, no
    positional shuffle); the corpus pays ONE map-side-combinable
    pair-count aggregate (the inherent cost — its key space is
    min(Σ n·window, vocab²) before the ``min_count`` cut), one
    vocab-bounded unigram aggregate, and two broadcast joins of the
    surviving pairs against the unigram table. 1-row totals inline
    via broadcast crossJoin (the catalog's scalar-agg pattern).
    ``pmi`` rounds at 6 dp (the documented cross-engine ulp class)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    if window < 1:
        raise ValueError("window must be >= 1")
    # Three consumers fan out of this frame (unigram counts, pair
    # counts, T_pairs totals); without the persist the filter +
    # tokenize scan re-executes per consumer (the minhash shared-
    # vector rule — round-14 review fix). MEMORY_ONLY: evictable,
    # never spills.
    toked = (docs.filter(F.col(text_col).isNotNull())
             .select(words(text_col).alias("_toks"))
             .persist(StorageLevel.MEMORY_ONLY))
    # The unigram table fans out three ways (t_tok, the a-side and
    # b-side joins); persisting the vocab-bounded frame bounds the
    # explode+count recompute at one pass regardless of consumer
    # count. Locally a wash (the pair-window explode dominates);
    # the guarantee is the point, the memory cost is |vocab| rows.
    uni = (toked.select(F.explode("_toks").alias("term"))
           .groupBy("term").agg(F.count("*").alias("c"))
           .persist(StorageLevel.MEMORY_ONLY))
    t_tok = uni.agg(F.sum("c").cast("double").alias("_ttok"))
    # sequence(1, n-1) DESCENDS when n < 2 (Spark fills start>stop
    # with step -1), so short docs are filtered before the expr.
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(_toks) - 1), i -> "
        f"transform(sequence(i + 1, least(i + {int(window)}, "
        "size(_toks))), j -> "
        "struct(least(_toks[i-1], _toks[j-1]) AS a, "
        "greatest(_toks[i-1], _toks[j-1]) AS b))))")
    pairs = (toked.filter(F.size("_toks") >= 2)
             .select(F.explode(pair_expr).alias("p"))
             .groupBy(F.col("p.a").alias("term_a"),
                      F.col("p.b").alias("term_b"))
             .agg(F.count("*").alias("n_pair"))
             .filter(F.col("n_pair") >= min_count))
    # T_pairs totals over ALL windows (totaling only the pairs
    # surviving min_count would bias the probabilities) — computed
    # exactly from the doc lengths in one cheap aggregate, no second
    # pair explode.
    t_pair = (toked.filter(F.size("_toks") >= 2)
              .select(F.size("_toks").cast("long").alias("n"))
              .agg(F.coalesce(F.sum(
                  F.when(F.col("n") > window,
                         (F.lit(window) * (F.col("n") - window)
                          + F.lit(window * (window - 1) // 2)))
                  .otherwise(F.col("n") * (F.col("n") - 1) / 2)
              ), F.lit(0.0)).cast("double").alias("_tpair")))
    ua = uni.select(F.col("term").alias("term_a"),
                    F.col("c").alias("_ca"))
    ub = uni.select(F.col("term").alias("term_b"),
                    F.col("c").alias("_cb"))
    return (pairs
            .join(F.broadcast(ua), "term_a")
            .join(F.broadcast(ub), "term_b")
            .crossJoin(F.broadcast(t_pair))
            .crossJoin(F.broadcast(t_tok))
            .select("term_a", "term_b",
                    F.col("n_pair").cast("long").alias("n_pair"),
                    F.round(F.log(
                        (F.col("n_pair") / F.col("_tpair"))
                        / ((F.col("_ca") / F.col("_ttok"))
                           * (F.col("_cb") / F.col("_ttok")))), 6)
                    .alias("pmi")))


def upsample_sources(docs, weights: dict[str, float],
                     by_col: str = "source", id_col: str = "doc_id",
                     salt: str = "mix"):
    """Deterministic source UPSAMPLING — the other half of the
    data-mixture recipe (:func:`mixture_sample` keeps a fraction;
    real pretraining tables also specify epochs ABOVE 1: e.g.
    "Wikipedia 2.5 epochs, crawl 0.7"). Each document of source
    ``s`` appears ``floor(w)`` times plus one more iff its stable
    hash bucket falls under the fractional part, so a source's
    expected multiplicity is exactly ``weights[s]``; the output adds
    an ``epoch`` column (0..k-1) identifying the copy — feed it into
    the epoch-shuffle layout so each repeat lands in a different
    global order. Missing sources drop (the mixture convention);
    negative weights are rejected.

    Consistency contract (pytest-pinned): the SAME md5 bucket as
    ``mixture_sample``, so for every ``w ≤ 1`` the kept set equals
    ``mixture_sample``'s exactly (with ``epoch = 0``) — a recipe can
    move a source across the 1.0 boundary without reshuffling which
    of its documents survive.

    Scale shape: one row-local map lookup + a ≤⌈w⌉-element
    ``sequence`` explode — zero shuffle; the multiplicity never
    touches the driver."""
    from pyspark.sql import functions as F

    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    if "epoch" in docs.columns:
        raise ValueError(
            "input already has an 'epoch' column — rename it before "
            "upsampling (the output's copy index uses that name)")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(salt + ":"),
                       F.col(id_col).cast("string")).cast("binary")),
        1, 8), 16, 10).cast("long") % 10000)
    whole = F.create_map(*[
        F.lit(x) for kv in weights.items()
        for x in (kv[0], int(kv[1]))])
    frac = F.create_map(*[
        F.lit(x) for kv in weights.items()
        for x in (kv[0], int(round((kv[1] - int(kv[1])) * 10000)))])
    n = (F.coalesce(whole[F.col(by_col)], F.lit(0))
         + (bucket < F.coalesce(frac[F.col(by_col)], F.lit(0)))
         .cast("int"))
    cols = docs.columns
    return (docs.withColumn("_n", n)
            .filter(F.col("_n") > 0)
            .select(*cols,
                    F.explode(F.sequence(F.lit(0), F.col("_n") - 1))
                    .alias("epoch")))

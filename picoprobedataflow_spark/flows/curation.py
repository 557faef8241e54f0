"""The end-to-end LLM training-data curation flow: the engine's
operators chained into the daily pipeline a corpus team actually
runs — heuristic quality gates → exact dedup → near dedup →
benchmark decontamination → per-domain capping → token-budget
selection — as ONE configurable function over a documents frame.

Every stage is an existing, individually-oracle-or-pytest-gated
operator (this module adds NO new math — it is the composition
surface, the analog of the reference's end-to-end flows in
:mod:`.pipelines` for the curation domain). Stages toggle off by
argument, so the flow is also the canonical example of how the
pieces fit.

Scale posture: each enabled stage MATERIALIZES its boundary
(:func:`..checkpoint.materialize`, an eager ``localCheckpoint``) —
the stage output feeds the next stage, and at 100 TB the boundary
would be a persist-to-storage between jobs anyway. The funnel count
is observed on the checkpoint's own job, so a stage costs no count
job of its own and never a recompute of the chain. The stages
themselves keep their documented shapes: the
quality gates are row-local scans, both dedups are bucketed
candidate generation + one survivor map, decontamination is a
shingle-equality semi join against the (broadcastable) benchmark
universe, the domain cap is the skew-safe hierarchical window, and
budget selection is the three-level sharded cumsum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark.checkpoint import materialize


class CurationResult:
    """``kept`` — the surviving documents (original columns);
    ``funnel`` — [(stage, rows_after)] in execution order, leading
    with ("input", n)."""

    __slots__ = ("kept", "funnel")

    def __init__(self, kept: DataFrame,
                 funnel: list[tuple[str, int]]):
        self.kept = kept
        self.funnel = funnel


def curate_documents(docs: DataFrame, *,
                     id_col: str = "doc_id",
                     text_col: str = "text",
                     min_quality: float | None = 0.3,
                     repetition_filter: bool = True,
                     exact_dedup: bool = True,
                     near_dedup: bool = True,
                     near_threshold: float = 0.8,
                     bench_docs: DataFrame | None = None,
                     contamination_threshold: float = 0.2,
                     url_col: str | None = None,
                     domain_quota: int = 2,
                     quota_order: str = "quality",
                     token_budget: int | None = None
                     ) -> CurationResult:
    """Run the curation funnel over ``docs`` and return the kept
    frame plus the per-stage row counts. Stages, in order (each
    skippable):

    1. **quality** — :func:`..functions.text.quality_score` ≥
       ``min_quality`` (NULL texts always drop: every later stage
       needs tokens).
    2. **repetition** — :func:`..functions.text.repetition_metrics`
       ``keep`` flag (the Gopher repetition battery).
    3. **exact** — :func:`..operators.dedup.exact_dup_mapping`
       anti-join (keep-min-id survivors).
    4. **near** — :func:`..operators.dedup.minhash_lsh_dedup`
       candidates filtered to ``est_jaccard ≥ near_threshold``
       (band collisions BELOW the threshold are candidates, not
       duplicates — feeding them to the survivor map unfiltered
       would merge merely-similar docs) →
       :func:`..operators.dedup.near_dup_survivors` keep flag.
    5. **decontam** — :func:`..operators.dedup.contamination_overlap`
       against ``bench_docs``: docs whose shingle-overlap fraction
       reaches ``contamination_threshold`` drop (skipped when
       ``bench_docs`` is None). ``threshold`` must be > 0 here — at
       0.0 the overlap table deliberately returns EVERY doc and the
       anti-join would empty the corpus.
    6. **quota** — :func:`..functions.web.domain_quota_sample` keeps
       at most ``domain_quota`` docs per registrable domain
       (skipped when ``url_col`` is None). ``quota_order`` picks
       WHICH docs survive a capped domain (round-14 review fix: the
       flow used to cap by the salted id hash, so a domain's
       highest-quality docs could be capped away before the budget
       stage ever saw them): ``"quality"`` (default) ranks by the
       1e6-scaled rounded quality score — the same exact-integer
       key the budget stage orders by, so the two stages agree on
       what "best" means; ``"hash"`` keeps the stable salted-hash
       cap (sampling semantics, partition-independent); any other
       string names an existing column ranked DESCENDING (the
       ``order_col`` contract — quota-by-PageRank, quota-by-arrival
       for the streaming twin's equivalence pin).
    7. **budget** — :func:`..operators.packing.select_token_budget`
       greedy best-quality-first prefix under ``token_budget``
       whitespace tokens (skipped when None; ordering key is the
       1e6-scaled rounded quality score, the exact-integer
       curriculum convention).
    """
    from picoprobedataflow_spark.functions.text import (
        n_words, quality_score, repetition_metrics)
    from picoprobedataflow_spark.operators.dedup import (
        contamination_overlap, exact_dup_mapping, minhash_lsh_dedup,
        near_dup_survivors)

    if bench_docs is not None and contamination_threshold <= 0.0:
        raise ValueError(
            "contamination_threshold must be > 0: at 0.0 the "
            "overlap table returns every document and the "
            "decontamination anti-join would drop the whole corpus")
    if near_dedup or token_budget is not None:
        # Fail FAST on a non-integral id (the select_token_budget
        # convention): near_dup_survivors casts the id to long deep
        # inside the near stage — under ANSI that crashes with no
        # hint the id dtype is the problem, and under non-ANSI the
        # NULL casts silently drop the whole corpus.
        id_type = dict(docs.dtypes)[id_col]
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"near_dedup/token_budget need an integral "
                f"{id_col!r} (got {id_type}); pre-assign numeric "
                f"ids or disable those stages")

    # The input count is one scan job with NO checkpoint: the source
    # is already materialized storage, and duplicating the biggest,
    # pre-filter frame into executor storage just to count it is the
    # one place the stage-boundary rationale does not apply.
    funnel: list[tuple[str, int]] = [("input", docs.count())]

    def _mark(stage: str, df: DataFrame) -> DataFrame:
        df, m = materialize(df, n=F.count(F.lit(1)))
        funnel.append((stage, m["n"]))
        return df

    cur = docs

    if min_quality is not None:
        cur = _mark("quality", cur.filter(
            F.col(text_col).isNotNull()
            & (quality_score(text_col) >= min_quality)))

    if repetition_filter:
        rep = repetition_metrics(cur, id_col=id_col,
                                 text_col=text_col)
        cur = _mark("repetition", cur.join(
            rep.filter(F.col("keep")).select(id_col), id_col))

    if exact_dedup:
        dups = exact_dup_mapping(cur, text_col, id_col)
        cur = _mark("exact", cur.join(dups.select(id_col), id_col,
                                      "left_anti"))

    if near_dedup:
        pairs = (minhash_lsh_dedup(cur, text_col=text_col,
                                   id_col=id_col)
                 .filter(F.col("est_jaccard") >= near_threshold))
        surv = near_dup_survivors(cur, pairs, id_col=id_col)
        cur = _mark("near", cur.join(
            surv.filter(F.col("keep")).select(id_col), id_col))

    if bench_docs is not None:
        contaminated = contamination_overlap(
            cur, bench_docs, text_col=text_col, id_col=id_col,
            threshold=contamination_threshold)
        cur = _mark("decontam", cur.join(
            contaminated.select(id_col), id_col, "left_anti"))

    if url_col is not None:
        from picoprobedataflow_spark.functions.web import \
            domain_quota_sample
        if quota_order == "quality":
            qcur = cur.withColumn(
                "_q_ord",
                F.round(quality_score(text_col) * 1e6).cast("long"))
            ocol: str | None = "_q_ord"
        elif quota_order == "hash":
            qcur, ocol = cur, None
        else:
            if quota_order not in cur.columns:
                raise ValueError(
                    f"quota_order column {quota_order!r} not in "
                    f"frame columns {cur.columns}")
            qcur, ocol = cur, quota_order
        quota = (domain_quota_sample(qcur, url_col=url_col,
                                     quota=domain_quota,
                                     id_col=id_col,
                                     order_col=ocol)
                 .filter(F.col("kept")).select(id_col))
        cur = _mark("quota", cur.join(quota, id_col))

    if token_budget is not None:
        ranked = cur.select(
            "*",
            F.round(quality_score(text_col) * 1e6).cast("long")
            .alias("_qb"),
            n_words(text_col).cast("long").alias("_ntok"))
        from picoprobedataflow_spark.operators.packing import \
            select_token_budget
        kept = select_token_budget(ranked, token_budget,
                                   order_col="_qb", id_col=id_col,
                                   tok_col="_ntok")
        cur = _mark("budget",
                    kept.select(*cur.columns))

    return CurationResult(cur, funnel)

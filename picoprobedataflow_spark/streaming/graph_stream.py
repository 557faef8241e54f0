"""Incremental PageRank over an edge-delta stream (round 15).

A crawl discovers its link graph INCREMENTALLY — every fetch epoch
appends edges — and the frontier scoreboard
(:func:`..flows.crawl.prioritize_frontier`) wants fresh ranks per
epoch without paying a cold power iteration on the whole
accumulated graph each time. This loop is the warm-start operator
(:func:`..operators.graph.pagerank` ``init_ranks``, round 14) placed
in its REAL context: per micro-batch, the arriving edge delta joins
the accumulated edge state, and the previous epoch's rank vector
warm-starts a SHORT power iteration (``n_iter_warm``, default 2)
whose result becomes the next epoch's start. New nodes enter at
their teleport mass (the operator's documented default); the first
epoch, with no prior vector, pays the one cold run.

Why this converges: the PageRank update is a contraction toward the
CURRENT graph's fixpoint from ANY starting vector (see the operator
docstring). Between epochs the graph grows by the batch delta, the
fixpoint moves a bounded distance, and the warm start re-contracts —
the classic incremental/online PageRank argument. Per-epoch work is
``n_iter_warm`` joins instead of ``n_iter_cold``: the measured
~1.5× sf0.1 / ~(cold/warm)-iteration-ratio-at-scale win the
``pagerank_cold10_full`` bench comparator quantifies
(COVERAGE.md round 15).

State layout (the :mod:`.dedup_stream` conventions): ``edges/`` —
accumulated distinct edges, per-epoch partitions; ``ranks/`` — one
rank vector per epoch (full precision; round at read time). All
writes are per-epoch dynamic partition overwrites and every state
read is ``before_epoch``-scoped, so a replayed epoch recomputes
against pre-epoch state and overwrites its own partitions
(exactly-once posture, replay-idempotent, pytest-pinned).

Scale shape (round 17): per-epoch cost = one BATCH-scale distinct
(the incoming delta) + one broadcast semi/anti pass deriving the
new-to-state edges (prior is scanned map-side, never shuffled for
it) + ONE graph-scale ``repartition("src")`` — which the rank
iterations need anyway — + ``n_iter_warm`` pagerank iterations (each
ONE src join + dst agg + 1-row broadcast, the operator's shape). The
state stays distinct by construction (each epoch writes
``delta ∖ prior``), so the per-epoch union is never re-distincted —
the round-16 form paid a second full-graph (src, dst) shuffle per
epoch for exactly that. The rank state is |V| rows per epoch; a
retention sweep over old epochs is ordinary parquet lifecycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from picoprobedataflow_spark import checkpoint
from picoprobedataflow_spark.streaming import loop
from picoprobedataflow_spark.streaming.dedup_stream import (
    _fs_list, _state, _write_epoch)

EDGE_SCHEMA = "src string, dst string"
RANK_SCHEMA = "node string, pr double"


def _max_rank_epoch(spark, rank_dir: str,
                    before_epoch: int | None = None) -> int | None:
    """Largest ``epoch=N`` partition under ``rank_dir`` (< the
    bound, when given) from the DIRECTORY LISTING — the data files
    are never read (round-15 review find: deriving it with
    ``agg(max(epoch))`` scanned every historical rank partition per
    micro-batch, O(stream lifetime) where the loop's contract is
    per-epoch cost). The listing goes through the Hadoop FileSystem
    API (round-16 ADVICE fix): the previous ``os.listdir`` form made
    a remote ``state_dir`` (hdfs://, s3a://) silently return None —
    every epoch then ran the cold path and rank reads degraded to
    empty; now remote URIs resolve or fail loudly."""
    names = _fs_list(spark, rank_dir)
    if names is None:
        return None
    best = None
    for name in names:
        if not name.startswith("epoch="):
            continue
        try:
            e = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if before_epoch is not None and e >= before_epoch:
            continue
        if best is None or e > best:
            best = e
    return best


def epoch_graph(prior_edges: DataFrame, delta: DataFrame,
                materialize: bool = True
                ) -> tuple[DataFrame, DataFrame]:
    """(graph, new_edges) for one rank epoch from the accumulated
    distinct state and an already-distinct batch delta — the
    shuffle-ledger core of :func:`run_pagerank_stream`, factored out
    (round 17) so its plan shape is assertable:

    - ``new_edges`` (= delta ∖ prior) derives BATCH-scale: the
      broadcast delta semi-joins against prior MAP-SIDE (output ≤
      batch rows), then a small-small anti join — the accumulated
      graph is never shuffled for the subtraction;
    - ``graph`` = prior ∪ new_edges, distinct BY CONSTRUCTION (state
      is distinct across epochs and new_edges is delta minus state),
      so the union carries no re-distinct; its only graph-scale
      shuffle is the ``repartition("src")`` the rank iterations need
      anyway.

    The micro-batch is broadcast-size by the streaming contract
    (epochs arrive at ingest cadence, not corpus scale).
    ``materialize=False`` keeps both frames lazy for plan
    inspection; the stream always materializes (new_edges feeds two
    consumers — the state write and the union; graph feeds every
    iteration)."""
    from picoprobedataflow_spark.streaming.dedup_stream import \
        batch_anti_state
    new_edges = batch_anti_state(delta, prior_edges,
                                 ["src", "dst"], batch_keys=delta)
    if materialize:
        new_edges, _ = checkpoint.materialize(new_edges)
    graph = (prior_edges.unionByName(new_edges)
             .repartition("src"))
    if materialize:
        graph, _ = checkpoint.materialize(graph)
    return graph, new_edges


def run_pagerank_stream(edge_stream: DataFrame, state_dir: str,
                        checkpoint_dir: str, *,
                        n_iter_cold: int = 10,
                        n_iter_warm: int = 2,
                        damping: float = 0.85,
                        src_col: str = "src",
                        dst_col: str = "dst",
                        available_now: bool = True
                        ) -> StreamingQuery:
    """Run the incremental rank loop over a streaming edge frame.

    Writes under ``state_dir``: ``edges/`` (accumulated distinct
    edges) and ``ranks/`` ((node, pr) per epoch — the latest epoch
    is the scoreboard a frontier reads). The first epoch runs
    ``n_iter_cold`` iterations from the uniform vector; every later
    epoch runs ``n_iter_warm`` iterations warm-started from the
    previous epoch's vector over the GROWN graph."""
    from picoprobedataflow_spark.operators.graph import pagerank
    from picoprobedataflow_spark.streaming.dedup_stream import \
        _ensure_params

    spark = edge_stream.sparkSession
    # damping persists with the state (round 16, the CMS-geometry
    # class): a short warm epoch under a CHANGED damping returns a
    # vector near the OLD damping's fixpoint — plausible-looking,
    # silently wrong for the new setting. n_iter_cold/warm are
    # performance knobs (the update contracts to the same fixpoint
    # for any iteration count) and deliberately not pinned.
    # repr(float(...)) canonicalizes the pin (round-17 ADVICE fix):
    # damping=1 vs 1.0 vs numpy.float64(1.0) are the SAME setting
    # and a verbatim repr falsely rejected the legitimate resume.
    _ensure_params(spark, state_dir,
                   {"damping": repr(float(damping))})
    edge_dir = os.path.join(state_dir, "edges")
    rank_dir = os.path.join(state_dir, "ranks")

    def _process(batch: DataFrame, epoch_id: int) -> None:
        # eager materialization (review find — the curation/dedup
        # loop convention): delta otherwise re-reads the micro-batch
        # source for the graph checkpoint inside pagerank and the
        # new-edges write. Its row count, observed on the same job,
        # is the emptiness guard.
        delta, m = checkpoint.materialize(
            batch.select(F.col(src_col).cast("string").alias("src"),
                         F.col(dst_col).cast("string").alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct(), n=F.count(F.lit(1)))
        if m["n"] == 0:
            return
        prior_edges = _state(spark, edge_dir, EDGE_SCHEMA,
                             before_epoch=epoch_id)
        # new-to-state edges only: the edges/ table stays distinct
        # across epochs, so the per-epoch graph union never regrows
        # duplicates and a replayed epoch re-derives the same delta.
        # BATCH-scale, not graph-scale (round 17, VERDICT r16 #2) —
        # see epoch_graph for the shuffle ledger (plan-pinned); the
        # operator then takes the frame prebuilt (its internal
        # build would re-distinct).
        graph, new_edges = epoch_graph(prior_edges, delta)
        # prior vector = the LATEST pre-epoch rank partition (the
        # before_epoch scope keeps a replayed epoch from reading its
        # own partial write back — the _state rule, applied to the
        # max-epoch pick too); partition pruning makes the read
        # touch only that one epoch directory
        init = None
        last = _max_rank_epoch(spark, rank_dir, before_epoch=epoch_id)
        if last is not None:
            init = (spark.read
                    .schema(RANK_SCHEMA + ", epoch long")
                    .parquet(rank_dir)
                    .filter(F.col("epoch") == last)
                    .select("node", "pr"))
        if init is None:
            out = pagerank(graph, n_iter=n_iter_cold,
                           damping=damping, round_digits=None,
                           prebuilt=True)
        else:
            out = pagerank(graph, n_iter=n_iter_warm,
                           damping=damping, round_digits=None,
                           init_ranks=init, prebuilt=True)
        _write_epoch(out.select("node", "pr"), rank_dir, epoch_id)
        _write_epoch(new_edges, edge_dir, epoch_id)

    return loop.start(edge_stream, checkpoint_dir, _process,
                      available_now)


def latest_ranks(spark, state_dir: str) -> DataFrame:
    """(node, pr) of the most recent drained epoch — what a frontier
    scoreboard joins against. The epoch pick is a directory listing
    (:func:`_max_rank_epoch`); only that partition is read."""
    rank_dir = os.path.join(state_dir, "ranks")
    last = _max_rank_epoch(spark, rank_dir)
    if last is None:
        raise FileNotFoundError(
            f"no rank epochs under {rank_dir} — drain the stream "
            f"first")
    return (spark.read.schema(RANK_SCHEMA + ", epoch long")
            .parquet(rank_dir)
            .filter(F.col("epoch") == last)
            .select("node", "pr"))

"""Link-graph operators for crawl curation.

A web-crawl pipeline ranks its frontier and weights its pages by link
analysis — PageRank (or its online cousin OPIC) is the standard
quality/priority prior a crawl-derived corpus carries alongside
per-document quality scores. This module gives the engine the
deterministic power-iteration form as a pure DataFrame plan: fixed
iteration count, no randomness, so the DuckDB oracle replays the
identical chain stage by stage (the same replay strategy as the
k-means builds in ``operators/similarity.py``).

Scale shape (the part that matters at 100 TB): the edge table is the
big, immutable side — it is repartitioned on ``src`` ONCE and
materialized, and every iteration reuses that layout; the rank vector
(|V| rows, node-keyed) is the small side that reshuffles (or
broadcasts, under AQE) per iteration. Per-iteration cost is ONE join
edges⋈ranks on src plus one dst-keyed aggregate; nothing driver-side,
no per-iteration edge shuffle, rounds = n_iter (a constant), not data.
Dangling mass (nodes with no out-edges) is redistributed uniformly via
a 1-row broadcast aggregate per iteration — the textbook correction,
without which rank leaks and the vector no longer sums to 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark.checkpoint import materialize


def _built_edges(edges: DataFrame, src_col: str, dst_col: str,
                 prebuilt: bool, verify_prebuilt: bool) -> DataFrame:
    """The shared unweighted graph-build step: (src, dst)-rename +
    distinct + src-repartition + materialize — or, under
    ``prebuilt``, the rename alone (the caller guarantees the frame
    already has the built shape), optionally with the debug-only
    duplicate check. ONE implementation under :func:`pagerank`,
    :func:`hits` and :func:`spam_mass` (round 17) so a crawl
    pipeline running several link analyses over one graph pays the
    corpus-scale edge distinct ONCE and every operator applies the
    same contract."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"))
    if not prebuilt:
        return materialize(e.distinct().repartition("src"))[0]
    if verify_prebuilt:
        dup = (e.groupBy("src", "dst")
               .agg(F.count("*").alias("_c"))
               .filter(F.col("_c") > 1)
               .head(1))
        if dup:
            raise ValueError(
                f"prebuilt edges contain duplicate (src, dst) "
                f"rows, e.g. ({dup[0].src!r}, {dup[0].dst!r}) "
                f"×{dup[0]._c} — the prebuilt contract requires "
                f"a deduplicated frame (duplicates would "
                f"silently inflate those endorsements)")
    return e


def pagerank(edges: DataFrame, n_iter: int = 10,
             damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             round_digits: int | None = 6,
             seeds: DataFrame | None = None,
             weight_col: str | None = None,
             init_ranks: DataFrame | None = None,
             normalize_init: bool = True,
             prebuilt: bool = False,
             verify_prebuilt: bool = False) -> DataFrame:
    """(node, outdeg, pr): PageRank after exactly ``n_iter`` power
    iterations from the uniform vector, with dangling-mass
    redistribution::

        pr'(v) = (1-d)/N + d·( Σ_{u→v} pr(u)/outdeg(u) + M/N )

    where ``M`` is the total rank held by dangling nodes (outdeg 0)
    and ``N`` the node count. Duplicate edges are collapsed (the
    crawl-graph convention: a page linking twice confers one
    endorsement); nodes are the union of both endpoints; ``outdeg``
    in the output is 0 for dangling nodes. The vector sums to 1 after
    every iteration (unit-tested), and a fixed ``n_iter`` keeps the
    whole computation deterministic and oracle-replayable — callers
    wanting convergence detection run a cheap
    ``|pr - pr_prev|``-aggregate between calls instead of hiding a
    data-dependent loop inside the operator.

    ``round_digits`` rounds the FINAL vector only (intermediates stay
    full-precision); cross-engine FP-associativity tolerance as
    documented on :func:`..functions.vectors.random_project`.

    ``seeds`` (round 13) turns the op into TrustRank-style
    PERSONALIZED PageRank: a 1-column frame of trusted node ids
    replaces the uniform teleport — the ``(1-d)`` restart mass and
    the dangling mass redistribute over the seed nodes only, so rank
    flows outward from the trusted set and a node unreachable from
    any seed converges to 0 (the web-spam demotion property;
    Gyöngyi et al.'s TrustRank is exactly this with a curated seed
    list). The initial vector is uniform over the seeds. Seeds not
    present in the graph are ignored; an empty effective seed set is
    rejected (the teleport would be undefined). Plan impact: the
    teleport indicator joins in ONCE as a small broadcast (seed
    lists are tiny by construction).

    ``weight_col`` (round 13) makes the walk WEIGHTED: a node's rank
    divides over its out-edges proportionally to edge weight
    (``share(u→v) = pr(u) · w(u→v) / Σ_x w(u→x)``) — link
    multiplicities, citation counts, click-through mass. Duplicate
    (src, dst) rows SUM their weights (the weighted analog of the
    unweighted collapse); non-positive and NULL weights drop (a
    zero-weight edge is no edge — it must not leave its source
    looking non-dangling). The default ``None`` keeps the original
    unweighted arithmetic bit-for-bit (the gated family's oracle
    replays that form); ``outdeg`` reports the distinct out-edge
    count in both modes.

    ``init_ranks`` (round 14) WARM-STARTS the power iteration: a
    2-column (node, pr) frame — typically the previous epoch's
    output over a slowly-growing graph — replaces the teleport
    vector as the starting point, and nodes absent from it (new
    pages) start at their teleport mass. The update map contracts
    toward the same fixpoint from any starting vector (a vector
    summing ``s`` maps to one summing ``(1-d) + d·s``, so even an
    un-normalized start converges), which is why a converged warm
    start needs 1-3 iterations where the cold start needs ~10 — the
    steady-state amortization the frontier loop was missing
    (round-13 VERDICT #3). Non-finite and negative init ranks drop
    to the teleport default (the NaN-poisoning guard class);
    duplicate node rows collapse by max (deterministic).
    ``normalize_init`` (round 15, default True) rescales the merged
    start vector to sum 1 — over a growing graph the prior vector
    plus new-node teleport defaults sums to 1+ε, and without the
    rescale a short warm epoch keeps ~d^k·ε inflation (the
    incremental-PageRank stream reproduced 27%); the rescale
    preserves the fixpoint and is a ÷(1±FP) no-op for a converged
    same-graph start. Plan impact: ONE extra node-keyed left join
    (+ a 1-row sum broadcast when normalizing) before the loop; the
    per-iteration shape is unchanged. The default ``None`` keeps
    the cold-start arithmetic bit-for-bit (the gated family).

    ``prebuilt`` (round 16) declares that ``edges`` is ALREADY
    (src, dst)-deduplicated, src-partitioned and materialized — the
    exact frame this function's own build step would produce — and
    skips that step. For a caller running SEVERAL rank computations
    over one graph (:func:`spam_mass` runs two; an epoch loop
    sweeping damping values runs more), the build — a full edge
    distinct, the dominant cost at corpus scale — then happens once
    instead of once per run. Values are unchanged (distinct of a
    distinct frame is the identity; partitioning never affects the
    arithmetic). Unweighted mode only — the weighted build bakes
    weight normalization into the materialized frame. The dedup
    guarantee is the CALLER's (both in-tree callers construct it by
    anti-join/distinct); a frame with duplicate (src, dst) rows
    would inflate those endorsements silently, so
    ``verify_prebuilt=True`` (round 17, debug-only — it pays one
    extra edge aggregate, the cost ``prebuilt`` exists to avoid)
    checks the contract and raises loudly on the first duplicate."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if prebuilt and weight_col is not None:
        raise ValueError(
            "prebuilt edges are unweighted-only: the weighted build "
            "folds weight collapse/normalization into the "
            "materialized frame")
    if weight_col is None:
        e = _built_edges(edges, src_col, dst_col,
                         prebuilt, verify_prebuilt)
        node_src = e
    else:
        raw = edges.select(F.col(src_col).alias("src"),
                           F.col(dst_col).alias("dst"),
                           F.col(weight_col).cast("double")
                           .alias("_w"))
        # Finite-positive weights only (review find, reproduced
        # live): NaN orders GREATER than every number in Spark, so
        # an unguarded `_w > 0` let a single NaN weight poison the
        # whole rank vector; +inf similarly NaN-ed pr·w/Σw.
        ecol = (raw.filter(F.col("_w").isNotNull()
                           & ~F.isnan("_w")
                           & (F.col("_w") > 0)
                           & (F.col("_w") < float("inf")))
                .groupBy("src", "dst").agg(F.sum("_w").alias("_w"))
                # Re-guard after the collapse: duplicate-edge weight
                # SUMS can overflow to +inf even though every input
                # was finite (round-14 battery) — same drop rule as
                # the ingest filter.
                .filter(F.col("_w") < float("inf")))
        # Per-src MAX-normalization (round-14 battery find,
        # reproduced live): Σw over a node's edges can overflow to
        # +inf on large-but-finite weights (three 1e308 edges), and
        # pr·w/inf = 0 then silently leaked 75% of the rank mass.
        # Shares only ever use w RELATIVE to the src's total, so
        # dividing each edge by its src's max first (w/max ∈ (0,1],
        # Σ ≤ outdeg — finite by construction) preserves every
        # share ratio exactly while making the arithmetic
        # overflow-free at any weight magnitude.
        emax = ecol.groupBy("src").agg(F.max("_w").alias("_mx"))
        e, _ = materialize(
            ecol.join(emax, "src")
            .select("src", "dst",
                    (F.col("_w") / F.col("_mx")).alias("_w"))
            .repartition("src"))
        # Node universe from the UNFILTERED endpoints (review find):
        # a node mentioned only by dropped-weight edges must still
        # rank (as dangling/isolated — "a zero-weight edge is no
        # edge" removes the FLOW, not the node), matching what the
        # unweighted run over the same table returns.
        node_src = raw
    nodes, m = materialize(
        node_src.select(F.col("src").alias("node"))
        .unionAll(node_src.select(F.col("dst").alias("node")))
        .distinct(), n=F.count(F.lit(1)))
    n_nodes = m["n"]
    aggs = [F.count("*").alias("outdeg")]
    cols = [F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg")]
    if weight_col is not None:
        aggs.append(F.sum("_w").alias("_s"))
        cols.append(F.coalesce("_s", F.lit(0.0)).alias("_s"))
    outd = e.groupBy("src").agg(*aggs)
    base, _ = materialize(
        nodes.join(outd, nodes["node"] == outd["src"], "left")
        .select("node", *cols))
    if seeds is not None and len(seeds.columns) != 1:
        # Eager rejection (review find, same silent-shape class as
        # logreg_predict's zip-truncation): narrowing a multi-column
        # frame to its first column would seed on the wrong thing
        # and return plausible-looking wrong ranks.
        raise ValueError(
            f"seeds must be a 1-column frame of node ids; got "
            f"{len(seeds.columns)} columns {seeds.columns}")
    if n_nodes == 0:
        if seeds is not None:
            # The documented contract — an empty EFFECTIVE seed set
            # is rejected — must hold on the empty graph too (review
            # find: the totality early-return ran first and silently
            # swallowed a disjoint-by-vacuity seed list).
            raise ValueError(
                "seeds contains no node present in the graph — the "
                "teleport vector would be undefined")
        # Total on the degenerate empty graph (round-13 review find:
        # 1.0 / n_nodes raised ZeroDivisionError at plan-BUILD time):
        # no nodes -> an empty, correctly-typed scoreboard.
        return base.select("node", "outdeg",
                           F.lit(0.0).alias("pr"))
    if seeds is not None:
        seed_df = (seeds.select(F.col(seeds.columns[0])
                                .alias("node"))
                   .distinct())
        base, m = materialize(
            base.join(F.broadcast(
                seed_df.withColumn("_seed", F.lit(True))),
                "node", "left")
            # Re-select by the PRE-JOIN column list (review
            # find, reproduced live: naming node/outdeg here
            # dropped the weighted path's _s column, making
            # seeds + weight_col crash at the pr init).
            .select(*[c for c in base.columns],
                    F.coalesce("_seed", F.lit(False))
                     .alias("_seed")),
            n_tele=F.count_if(F.col("_seed")))
        n_tele = m["n_tele"]
        if n_tele == 0:
            raise ValueError(
                "seeds contains no node present in the graph — the "
                "teleport vector would be undefined")
    else:
        base = base.withColumn("_seed", F.lit(True))
        n_tele = n_nodes
    tele = F.when(F.col("_seed"), F.lit(1.0 / n_tele)) \
            .otherwise(F.lit(0.0))
    # The uniform path keeps the ORIGINAL constant-division
    # arithmetic ((1-d)/N and m/N, both division) — the seeded path's
    # (1-d)·tele / m·tele multiplies by a reciprocal, which differs
    # from division in the last ulp, and the oracle replays division;
    # sharing the multiply form would put every uniform family value
    # one ulp off its replay at the 6-dp rounding boundary.
    if seeds is None:
        restart = F.lit((1.0 - damping) / n_nodes)
        dang_of = F.col("_m") / n_nodes
    else:
        restart = F.lit(1.0 - damping) * tele
        dang_of = F.col("_m") * tele
    keep = ["node", "outdeg", "_seed"] + \
        (["_s"] if weight_col is not None else [])
    if init_ranks is not None:
        if len(init_ranks.columns) != 2:
            # Same eager-rejection class as the seeds guard: a wider
            # frame narrowed silently would warm-start on the wrong
            # column and return plausible-looking wrong ranks.
            raise ValueError(
                f"init_ranks must be a 2-column (node, pr) frame; "
                f"got {len(init_ranks.columns)} columns "
                f"{init_ranks.columns}")
        c_node, c_pr = init_ranks.columns
        ir = (init_ranks.select(
                F.col(c_node).alias("node"),
                F.col(c_pr).cast("double").alias("_pr0"))
              .filter(F.col("_pr0").isNotNull()
                      & ~F.isnan("_pr0")
                      & (F.col("_pr0") >= 0)
                      & (F.col("_pr0") < float("inf")))
              .groupBy("node").agg(F.max("_pr0").alias("_pr0")))
        pr = (base.join(ir, "node", "left")
              .select(*keep,
                      F.coalesce("_pr0", tele).alias("pr")))
        if normalize_init:
            # Rescale the merged start vector to sum 1 (round 15 —
            # the incremental-PageRank convention): over a GROWING
            # graph the prior epoch's sum-1 vector plus the new
            # nodes' teleport defaults sums to 1+ε, and the excess
            # mass decays only as d^k — a 2-iteration warm epoch
            # would carry ~d²·ε forever-compounding inflation (the
            # round-15 stream pin reproduced a 27% inflated vector).
            # Normalizing is a fixpoint-preserving rescale; for an
            # already-converged same-graph start it divides by
            # 1.0±FP, keeping the resume-equivalence pin tight. An
            # all-zero start (sum 0) falls back to the teleport
            # vector — the degenerate guard.
            s0 = pr.agg(F.sum("pr").alias("_s0"))
            pr = (pr.crossJoin(F.broadcast(s0))
                  .select(*keep,
                          F.when(F.col("_s0") > 0,
                                 F.col("pr") / F.col("_s0"))
                          .otherwise(tele).alias("pr")))
    else:
        pr = base.select(*keep, tele.alias("pr"))
    for _ in range(n_iter):
        # Dangling mass: one 1-row aggregate, broadcast into the
        # update expression via crossJoin (the catalog's scalar-agg
        # pattern).
        dang = pr.filter(F.col("outdeg") == 0).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_m"))
        # when() guards the division: a dangling node's outdeg is 0
        # and under ANSI mode an unguarded pr/outdeg raises
        # DIVIDE_BY_ZERO even though the join would drop the row
        # (the round-9 totality-under-ANSI bug class — the predicate
        # does not shield the projection).
        if weight_col is None:
            contrib = (e.join(
                pr.select(F.col("node").alias("src"),
                          F.when(F.col("outdeg") > 0,
                                 F.col("pr") / F.col("outdeg"))
                          .alias("_share")), "src")
                .groupBy("dst")
                .agg(F.sum("_share").alias("_in")))
        else:
            # Weighted share: pr·w/Σw — w lives on the edge, so the
            # expression evaluates AFTER the join. The Σw guard is
            # the same ANSI-totality point as the outdeg one.
            contrib = (e.join(
                pr.select(F.col("node").alias("src"), "pr", "_s"),
                "src")
                .select("dst",
                        F.when(F.col("_s") > 0,
                               F.col("pr") * F.col("_w")
                               / F.col("_s")).alias("_share"))
                .groupBy("dst")
                .agg(F.sum("_share").alias("_in")))
        pr = (base.join(contrib, base["node"] == contrib["dst"],
                        "left")
              .crossJoin(F.broadcast(dang))
              .select(*keep,
                      (restart
                       + F.lit(damping)
                       * (F.coalesce("_in", F.lit(0.0))
                          + dang_of)).alias("pr")))
        # Materialize each iteration: without this the lineage nests
        # n_iter joins into one plan (analysis blows up combinatorially
        # and a failure recomputes everything); with it each round is
        # one bounded job, the same reason the k-means build
        # checkpoints per iteration.
        pr, _ = materialize(pr)
    pr = pr.drop("_seed", "_s")
    if round_digits is not None:
        pr = pr.select("node", "outdeg",
                       F.round("pr", round_digits).alias("pr"))
    return pr


def hits(edges: DataFrame, n_iter: int = 10,
         src_col: str = "src", dst_col: str = "dst",
         round_digits: int | None = 6,
         prebuilt: bool = False,
         verify_prebuilt: bool = False) -> DataFrame:
    """(node, hub, auth): Kleinberg's HITS after exactly ``n_iter``
    mutual-reinforcement iterations — the link-analysis complement of
    :func:`pagerank` a crawl pipeline uses to separate DIRECTORY
    pages (high hub: they point at good content) from CONTENT pages
    (high authority: good hubs point at them); a corpus-quality prior
    keyed on authority demotes link farms that PageRank's single
    score can conflate.

    Per iteration::

        auth(v) = Σ_{u→v} hub(u)     then L1-normalized
        hub(u)  = Σ_{u→v} auth(v)    then L1-normalized

    L1 (sum) normalization instead of the textbook L2: power
    iteration converges to the same principal-eigenvector DIRECTION
    under any positive normalization, and keeping the update
    sqrt-free makes the chain exactly replayable by a SQL oracle
    (the pagerank convention). Both vectors start uniform and sum to
    1 after every iteration (unit-tested). Duplicate edges collapse;
    nodes are the union of both endpoints; a node with no out-edges
    has hub 0 from the first iteration on (and symmetrically for
    auth), which is the demotion the operator exists for.

    Scale shape: the deduped edge table materializes ONCE
    (repartitioned on src); each iteration is two join+aggregate
    rounds over the node-keyed vectors (the small side) plus two
    1-row normalization scalars broadcast into the projection —
    nothing driver-side, rounds = 2·n_iter, not data. Each iteration
    localCheckpoints so lineage stays bounded (the pagerank /
    k-means pattern). Total on the empty graph (empty typed frame).

    ``round_digits`` rounds the FINAL vectors only; cross-engine FP
    tolerance as documented on
    :func:`..functions.vectors.random_project`.

    ``prebuilt``/``verify_prebuilt`` (round 17): the
    :func:`pagerank` contract, extended here so a pipeline running
    PageRank + HITS + spam-mass over ONE crawl graph pays the
    corpus-scale edge distinct once and hands the materialized frame
    to every operator (:func:`_built_edges` is the one shared
    implementation); values are unchanged (distinct of a distinct
    frame is the identity)."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = _built_edges(edges, src_col, dst_col,
                     prebuilt, verify_prebuilt)
    nodes, m = materialize(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct(), n=F.count(F.lit(1)))
    n_nodes = m["n"]
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("hub"),
                            F.lit(0.0).alias("auth"))
    v = nodes.select("node",
                     F.lit(1.0 / n_nodes).alias("hub"),
                     F.lit(1.0 / n_nodes).alias("auth"))

    def _push(vec: DataFrame, from_col: str, to_col: str,
              val: str, out: str) -> DataFrame:
        """Σ over edges of the neighbor's ``val``, keyed by
        ``to_col``, L1-normalized — one join + one aggregate + one
        1-row scalar broadcast."""
        s = (e.join(vec.select(F.col("node").alias(from_col),
                               F.col(val).alias("_v")), from_col)
             .groupBy(to_col)
             .agg(F.sum("_v").alias("_s")))
        tot = s.agg(F.coalesce(F.sum("_s"), F.lit(0.0)).alias("_t"))
        return (nodes.join(s, nodes["node"] == s[to_col], "left")
                .crossJoin(F.broadcast(tot))
                .select("node",
                        F.when(F.col("_t") > 0,
                               F.coalesce("_s", F.lit(0.0))
                               / F.col("_t"))
                        .otherwise(F.lit(0.0)).alias(out)))

    for _ in range(n_iter):
        # auth materializes per iteration (round 18): it feeds TWO
        # consumers — the hub push and the iteration's final join —
        # and un-checkpointed the auth join+aggregate subtree planned
        # twice inside each iteration's checkpoint job (exchange
        # reuse recovered only part of it; interleaved A/B min
        # 1.59→1.48 s, med 1.92→1.66 s on the 3-iteration bench key,
        # fixpoint bit-identical). One extra k-bounded job per
        # iteration buys one fewer full push evaluation.
        auth, _ = materialize(_push(v, "src", "dst", "hub", "auth"))
        hub = _push(auth, "dst", "src", "auth", "hub")
        v, _ = materialize(hub.join(auth, "node")
                           .select("node", "hub", "auth"))
    if round_digits is not None:
        v = v.select("node", F.round("hub", round_digits).alias("hub"),
                     F.round("auth", round_digits).alias("auth"))
    return v


def spam_mass(edges: DataFrame, seeds: DataFrame,
              n_iter: int = 10, damping: float = 0.85,
              src_col: str = "src", dst_col: str = "dst",
              round_digits: int | None = 6,
              prebuilt: bool = False,
              verify_prebuilt: bool = False) -> DataFrame:
    """(node, pr, trust, rel_spam_mass): the Gyöngyi et al. spam-mass
    estimate — how much of a page's PageRank is NOT accounted for by
    rank flowing from a trusted seed set:
    ``rel_spam_mass = (pr − trust) / pr`` with ``pr`` the uniform
    PageRank and ``trust`` the TrustRank-personalized score over the
    same graph (both vectors sum to 1, so the two scales align with
    no calibration constant — the paper's relative-mass form). Values
    near 1 mean virtually all of the page's rank arrives from outside
    the trusted region (the link-spam signature a crawl corpus
    demotes); near or below 0 means trusted flow covers it.

    A pure composition of two :func:`pagerank` runs (uniform +
    seeded) joined on node — no third iteration engine. The edge
    table builds ONCE (round 16: the dedup/materialize step — a full
    corpus-scale distinct — used to run inside each pagerank call;
    the shared ``prebuilt`` frame halves it), so cost is one graph
    build + 2× the iteration loops; ``prebuilt=True`` (round 17,
    the :func:`pagerank` contract via :func:`_built_edges`) skips
    even that for a caller holding an already-built frame — e.g.
    the incremental stream's per-epoch checkpointed graph. ``pr``
    is strictly positive for any
    ``damping < 1`` (the uniform restart mass reaches every node);
    at the degenerate ``damping = 1.0`` a node with no in-links has
    ``pr = 0`` and its ratio is undefined — ``rel_spam_mass`` is
    NULL there, not a crash (the ANSI totality convention)."""
    e = _built_edges(edges, src_col, dst_col,
                     prebuilt, verify_prebuilt)
    # The two rank runs are INDEPENDENT given the built graph — only
    # the final join consumes both — but each one is a sequential
    # ladder of per-iteration eager checkpoints, so running them
    # serially leaves the cluster idle through every ladder rung's
    # scheduling gap. Submitting them from two driver threads
    # (optimization-guide §2.6: actions are only sequential because
    # the driver calls them sequentially) lets each run's jobs
    # back-fill the other's idle tail; FIFO scheduling interleaves
    # them and the per-run plans — hence the values — are unchanged.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pr = pool.submit(
            pagerank, e, n_iter=n_iter, damping=damping,
            round_digits=None, prebuilt=True)
        f_tr = pool.submit(
            pagerank, e, n_iter=n_iter, damping=damping,
            round_digits=None, seeds=seeds, prebuilt=True)
        pr, tr = f_pr.result(), f_tr.result()
    j = (pr.select("node", F.col("pr"))
         .join(tr.select("node", F.col("pr").alias("trust")),
               "node"))
    rel = F.when(F.col("pr") > 0,
                 (F.col("pr") - F.col("trust")) / F.col("pr"))
    out = j.select("node", "pr", "trust",
                   rel.alias("rel_spam_mass"))
    if round_digits is not None:
        out = out.select(
            "node",
            F.round("pr", round_digits).alias("pr"),
            F.round("trust", round_digits).alias("trust"),
            F.round("rel_spam_mass", round_digits)
            .alias("rel_spam_mass"))
    return out

"""Similarity search over ``array<float>`` embedding columns.

Baseline: brute-force cosine top-k with the JVM higher-order-function
dot product (:mod:`..functions.vectors`) — a single scan, no shuffle,
scales linearly and parallelizes perfectly; this is the correct
reference implementation and is genuinely competitive up to ~10⁸
vectors per query batch.

Scale path: sign-random-projection (SRP) LSH — bucket = bit pattern of
``sign(plane·v)`` over ``n_planes`` deterministic hyperplanes; search
only the query's bucket (optionally ± hamming-1 probes). Hyperplanes
are ±1-valued, derived from the portable md5 hash of (plane, dim), so
both engines (and every executor, with no broadcast state) materialize
identical planes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark import ship_by_value
from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.functions import vectors as V


def _cos_py(a, b) -> float:
    """Driver-side cosine for ranking k-row centroid tables (the one
    shared implementation — cell ranking must agree everywhere it is
    computed)."""
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def _check_n_probe(n_probe: int) -> None:
    """Reject a probe width below one before any Spark job: probing
    zero cells returns an empty result that looks like no neighbors
    exist."""
    if n_probe < 1:
        raise ValueError(
            f"n_probe must be >= 1, got {n_probe}: probing zero "
            f"cells returns an empty result that looks like no "
            f"neighbors exist")


def _probe_cells(cent_rows, qd: list[float], n_probe: int) -> list:
    """The ``n_probe`` cells whose centroids rank first by
    (−cosine to the query, cell) — the one IVF probe ranking."""
    ranked = sorted(cent_rows, key=lambda cr: (-_cos_py(cr[1], qd), cr[0]))
    return [c for c, _ in ranked[:n_probe]]


def _check_subspaces(m: int, dim: int) -> int:
    """The PQ subspace width ``dim // m``, rejecting an ``m`` that
    does not divide ``dim`` before any Spark job."""
    if m < 1 or dim % m:
        raise ValueError(
            f"m must divide dim exactly (got dim={dim}, m={m}): "
            f"sub = dim // m would silently drop the trailing "
            f"{dim % m if m >= 1 else dim} dimensions from every "
            f"code and distance")
    return dim // m


def _adc_expr(codebooks, qd: list[float], sub: int) -> F.Column:
    """The PQ asymmetric-distance expression over code columns
    ``c0..c{m-1}``: per subspace, the query→centroid squared
    distances (ascending-dim LEFT-ASSOCIATIVE accumulation — the
    fold order is load-bearing for cross-engine parity, so it lives
    in exactly one place) become an m·k literal lookup table, and the
    ADC sum chains the m lookups left-associatively."""
    adc = None
    for i, book in enumerate(codebooks):
        qs = qd[i * sub:(i + 1) * sub]
        lut = []
        for _cell, cent in book:            # cell order 0..k-1
            d = 0.0
            for a, b in zip(qs, cent):      # ascending dim, left-assoc
                d = d + (a - b) * (a - b)
            lut.append(d)
        term = F.element_at(V.const_array(lut),
                            F.col(f"c{i}") + 1)
        adc = term if adc is None else adc + term
    return adc


def cosine_to_query(emb: DataFrame, query_vec: list[float],
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """(vec_id, cosine) against a constant query vector."""
    q = V.const_array(query_vec)
    return emb.select(F.col(id_col),
                      V.cosine(F.col(vec_col), q).alias("cosine"))


def topk_cosine(emb: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_digits: int = 6) -> DataFrame:
    """Brute-force cosine top-k. Ordering on the *rounded* score with
    id tie-break keeps the result deterministic across engines; Spark
    plans the ordered limit as TakeOrderedAndProject (per-partition
    heap, no global sort). Zero-norm rows (dead embeddings, or a
    zero QUERY) carry NULL cosine (see ``V.cosine``) and are dropped
    here — undefined similarity never occupies a top-k slot; the
    other ranking consumers inherit NULLS-LAST ordering and
    null-rejecting threshold predicates from the same primitive."""
    scored = cosine_to_query(emb, query_vec, vec_col, id_col)
    return (scored.select(id_col,
                          F.round("cosine", round_digits).alias("cosine"))
                  .filter(F.col("cosine").isNotNull())
                  .orderBy(F.desc("cosine"), id_col)
                  .limit(k))


def blocked_near_pairs(emb: DataFrame, threshold: float,
                       block_col: str = "label",
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Near-duplicate pairs within blocks: equi-join on the blocking
    key (cluster/label/LSH bucket) then cosine filter — the blocking
    join is what keeps this sub-quadratic; the cosine evaluates only
    on co-blocked pairs."""
    a = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("v_a"),
                   V.norm(F.col(vec_col)).alias("n_a"))
    b = emb.select(F.col(block_col).alias("block"),
                   F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("v_b"),
                   V.norm(F.col(vec_col)).alias("n_b"))
    return (a.join(b, "block")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine",
                         V.cosine_prenorm(F.col("v_a"), F.col("v_b"),
                                          F.col("n_a"), F.col("n_b")))
             .filter(F.col("cosine") >= threshold)
             .select("block", "id_a", "id_b", "cosine"))


def block_knn_graph(emb: DataFrame, k: int,
                    block_col: str = "bucket",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    exclude_col: str | None = None) -> DataFrame:
    """Directed k-NN graph within LSH blocks: every vector's top-k
    cosine neighbors among co-blocked vectors — the neighbor graph
    SemDeDup-style pruning, hard-negative mining and graph-clustering
    passes all start from. The blocking equi-join keeps candidate
    generation sub-quadratic (Σblock² not corpus²); the ranking
    window partitions by the SOURCE id — per-vector cardinality,
    never a global sort. Cosine rounds to 6 dp BEFORE ranking so rank
    ties break identically on both engines (ulp-level fold-order
    drift would otherwise flip neighbor order at the tie boundary).
    At 100 TB the block is a write-time partition key and the
    self-join is partition-local, same posture as
    :func:`blocked_near_pairs`.

    With ``exclude_col`` set, candidates must DIFFER on that column —
    the hard-negative mining shape (top-k most-similar vectors of a
    different class: similar enough to be hard, labeled different so
    they are negatives)."""
    from pyspark.sql.window import Window as W

    a_cols = [F.col(block_col).alias("block"),
              F.col(id_col).alias("src"),
              F.col(vec_col).alias("v_a"),
              V.norm(F.col(vec_col)).alias("n_a")]
    b_cols = [F.col(block_col).alias("block"),
              F.col(id_col).alias("dst"),
              F.col(vec_col).alias("v_b"),
              V.norm(F.col(vec_col)).alias("n_b")]
    if exclude_col is not None:
        a_cols.append(F.col(exclude_col).alias("x_a"))
        b_cols.append(F.col(exclude_col).alias("x_b"))
    a = emb.select(*a_cols)
    b = emb.select(*b_cols)
    pairs = (a.join(b, "block")
              .filter(F.col("src") != F.col("dst")))
    if exclude_col is not None:
        pairs = pairs.filter(F.col("x_a") != F.col("x_b"))
    pairs = pairs.withColumn(
        "cosine", F.round(V.cosine_prenorm(
            F.col("v_a"), F.col("v_b"),
            F.col("n_a"), F.col("n_b")), 6))
    w = W.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("src", "dst", F.col("rk").cast("long").alias("rk"),
                    "cosine"))


def mutual_knn_edges(knn: DataFrame) -> DataFrame:
    """Undirected mutual edges of a directed k-NN graph: (src, dst)
    with src < dst kept only when BOTH directions exist — the
    reciprocity filter that drops hub-to-outlier links (an outlier's
    top-k reaches the hub, but the hub's top-k never reaches back).
    One equi-join of the edge list with its own reversal — edge-
    linear, shuffled on the pair key."""
    rev = knn.select(F.col("dst").alias("src"),
                     F.col("src").alias("dst"))
    return (knn.select("src", "dst").join(rev, ["src", "dst"])
            .filter(F.col("src") < F.col("dst")))


def centroid_outlier_scores(emb: DataFrame, threshold: float = 0.0,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            round_digits: int = 6) -> DataFrame:
    """(vec_id, centroid_cos, keep): cosine of every vector to the
    GLOBAL corpus centroid (per-dim mean), keep = rounded cosine ≥
    ``threshold`` — off-manifold outlier pruning, the model-free
    cousin of CLIP-score filtering: embedding junk (corrupt rows,
    wrong-domain content, adversarial noise) sits far from the mass
    of the corpus in embedding space and scores near/below 0.

    Scale shape: the centroid is ONE (dim)-keyed aggregate over the
    posexploded corpus (dim rows back to the driver — same bounded
    k·dim hop as the Lloyd's builds), then the score is a map-side
    literal expression over a single scan: no join, no shuffle on
    the corpus beyond the 64-row mean. The keep decision compares
    the ROUNDED cosine, so the boundary is reproducible across
    engines."""
    longf = emb.select(F.posexplode(vec_col).alias("dim", "val"))
    means = (longf.groupBy("dim")
             .agg(F.avg(F.col("val").cast("double")).alias("m"))
             .collect())
    centroid = [m for _, m in sorted((r.dim, r.m) for r in means)]
    scored = cosine_to_query(emb, centroid, vec_col, id_col)
    cos = F.round("cosine", round_digits)
    return scored.select(
        id_col, cos.alias("centroid_cos"),
        (cos >= F.lit(threshold)).alias("keep"))


def ivf_centroids(emb: DataFrame, cell_col: str = "label",
                  vec_col: str = "embedding") -> DataFrame:
    """Elementwise-mean centroid per cell: posexplode to (cell, dim,
    val), average, re-assemble ordered by dim. One narrow explode +
    one aggregate — the coarse-quantizer build step of IVF. Here the
    cells are the given cluster labels; at scale they come from a
    k-means pass with the same long-form shape."""
    longf = emb.select(F.col(cell_col).alias("cell"),
                       F.posexplode(vec_col).alias("dim", "val"))
    means = (longf.groupBy("cell", "dim")
                  .agg(F.avg(F.col("val").cast("double")).alias("m")))
    ordered = F.array_sort(F.collect_list(F.struct("dim", "m")))
    return (means.groupBy("cell")
                 .agg(F.transform(ordered, lambda s: s.m).alias("centroid")))


def ivf_ann_search(emb: DataFrame, query_vec: list[float], k: int = 5,
                   n_probe: int = 2, cell_col: str = "label",
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   round_digits: int = 6) -> DataFrame:
    """IVF search: rank cells by centroid cosine to the query, scan
    only the ``n_probe`` nearest cells, exact top-k inside them. The
    centroid table is tiny (|cells| rows) so ranking happens on the
    driver; the big scan is pruned to n_probe/|cells| of the data —
    with the cell column as a partition key at write time, that
    pruning is partition pruning."""
    _check_n_probe(n_probe)
    cents = ivf_centroids(emb, cell_col, vec_col).collect()
    probe_cells = _probe_cells(cents, [float(x) for x in query_vec],
                               n_probe)
    q = V.const_array(query_vec)
    return (emb.filter(F.col(cell_col).isin(probe_cells))
               .select(F.col(id_col), F.col(cell_col).alias("cell"),
                       F.round(V.cosine(F.col(vec_col), q),
                               round_digits).alias("cosine"))
               .orderBy(F.desc("cosine"), id_col)
               .limit(k))


def srp_plane_entry(plane: int, dim: int) -> float:
    """Deterministic ±1 hyperplane entry for (plane, dim): parity of
    the portable md5 hash of 'p:<plane>:<dim>'. Computed driver-side
    once and inlined as literals — no broadcast state, identical on
    every engine, and the plan stays O(planes) expressions instead of
    O(planes×dim) md5 nodes (the expression-per-entry formulation cost
    ~9 s of plan compilation per call at 8×64)."""
    import hashlib

    h = int(hashlib.md5(f"p:{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def srp_bucket(vec_col: F.Column | str, n_planes: int = 8,
               dim: int = 64) -> F.Column:
    """SRP bucket id: bit p set iff plane_p · v > 0.

    The dot product is a ``zip_with`` + left-fold ``aggregate`` over
    the literal plane array — same ascending-dim, left-associative
    double arithmetic as a chained ``+`` (the IEEE identity
    ``0.0 + x == x`` holds for every x; a -0.0 sum still fails
    ``> 0``), so bucket assignment is bit-reproducible against the
    oracle's chained-sum form."""
    if isinstance(vec_col, str):
        # ONE parsed SQL expression for the whole bucket (round 17):
        # the Column-API form paid ~30 py4j round-trips per plane for
        # lambda construction — pure driver time, linear in n_planes.
        # Identical tree: per plane the same zip_with product /
        # left-fold sum / > 0 gate / power-of-two term, longs
        # throughout (the int-vs-long width of the old per-plane
        # literals is value-invisible: the sum was always a long).
        def arr(vals):
            return "array(" + ",".join(repr(float(x)) + "D"
                                       for x in vals) + ")"
        terms = " + ".join(
            "(CASE WHEN aggregate(zip_with(`%s`, %s, (x, y) -> "
            "CAST(x AS DOUBLE) * y), 0.0D, (acc, t) -> acc + t) > 0 "
            "THEN %dL ELSE 0L END)"
            % (vec_col, arr([srp_plane_entry(p, d) for d in range(dim)]),
               1 << p)
            for p in range(n_planes))
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = V.const_array([srp_plane_entry(p, d) for d in range(dim)])
        dot = F.aggregate(
            F.zip_with(vec_col, plane,
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, t: acc + t)
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def srp_plane_matrix(n_planes: int, dim: int):
    """The full ±1 plane matrix (n_planes × dim) as a numpy array —
    same ``srp_plane_entry`` formula, materialized once instead of
    inlined as literals."""
    import numpy as np

    return np.array([[srp_plane_entry(p, d) for d in range(dim)]
                     for p in range(n_planes)], dtype="float64")


def srp_bucket_matrix(emb: DataFrame, n_planes: int = 8, dim: int = 64,
                      vec_col: str = "embedding",
                      out_col: str = "bucket") -> DataFrame:
    """High-dim scale path for :func:`srp_bucket` (the SCALE.md "known
    limit"): at 1024-dim the literal-array fold is O(planes×dim)
    expression nodes per plane; here the planes ride along as one
    broadcast numpy matrix and each Arrow batch does a single
    ``planes @ batchᵀ`` matmul in the Python worker — O(1) plan size
    in dim, BLAS-vectorized, one kernel per batch instead of per row.

    Bucket contract is identical (bit p set iff plane_p·v > 0); the
    matmul may sum in a different order than the fold, so agreement at
    exact sign boundaries is not guaranteed — irrelevant for LSH
    correctness (any consistent bucketing works) but why the
    oracle-gated catalog queries stay on the fold form."""
    from pyspark.sql import functions as sf

    spark = emb.sparkSession
    planes_bc = spark.sparkContext.broadcast(srp_plane_matrix(n_planes, dim))

    @sf.pandas_udf("long")
    def _bucket(vecs: pd.Series) -> pd.Series:
        import numpy as np

        planes = planes_bc.value
        mat = np.stack(vecs.to_numpy()).astype("float64")  # rows × dim
        dots = mat @ planes.T                              # rows × planes
        bits = (dots > 0).astype("int64")
        weights = (1 << np.arange(planes.shape[0])).astype("int64")
        return pd.Series(bits @ weights)

    return emb.withColumn(out_col, _bucket(F.col(vec_col)))


ship_by_value(__name__)


def srp_ann_search(emb: DataFrame, query_vec: list[float], k: int = 5,
                   n_planes: int = 8, dim: int = 64,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   round_digits: int = 6) -> DataFrame:
    """LSH-bucketed ANN: restrict the scan to the query's SRP bucket,
    then exact cosine top-k inside it. At scale the bucket column is
    precomputed/partitioned-on at write time, so a query touches
    1/2^n_planes of the data."""
    # Driver-side bucket of the constant query vector (same formula,
    # same ascending-dim left fold).
    qbucket = 0
    for p in range(n_planes):
        dot = 0.0
        for d in range(dim):
            dot += srp_plane_entry(p, d) * float(query_vec[d])
        if dot > 0:
            qbucket |= 1 << p
    bucketed = emb.withColumn("bucket",
                              srp_bucket(vec_col, n_planes, dim))
    q = V.const_array(query_vec)
    return (bucketed.filter(F.col("bucket") == qbucket)
                    .select(F.col(id_col), "bucket",
                            F.round(V.cosine(F.col(vec_col), q),
                                    round_digits).alias("cosine"))
                    .orderBy(F.desc("cosine"), id_col)
                    .limit(k))


# --------------------------------------------------------------------------
# k-means coarse quantizer (IVF build pass)
# --------------------------------------------------------------------------

def checkpoint_vecs(emb: DataFrame, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """The eagerly checkpointed ``(_id, _v array<double>)`` projection
    every k-means, PQ and IVF build scans."""
    return materialize(emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    ))[0]


def kmeans_seed_query(vecs: DataFrame, n_clusters: int) -> DataFrame:
    """The k seed rows as a distributed top-k: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heaps merged at the
    driver), never a single-partition sort of the corpus the way a
    global no-partition row_number window would. ``vecs`` is the
    normalized (_id, _v) projection."""
    return (vecs
            .select("_id", "_v",
                    F.md5(F.col("_id").cast("string")
                           .cast("binary")).alias("_h"))
            .orderBy("_h", "_id")
            .limit(n_clusters))


def kmeans_centroids(emb: DataFrame, n_clusters: int = 8, n_iter: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     vecs: DataFrame | None = None) -> DataFrame:
    """(cell, centroid): deterministic DataFrame Lloyd's iteration —
    the IVF coarse-quantizer *build* pass, no gold labels anywhere.

    Seeding is md5-derived like the SRP planes: the ``n_clusters``
    vectors with the smallest ``(md5(vec_id), vec_id)`` rank become
    centroids 0..k-1 — deterministic across runs, engines and
    partitionings, so an oracle can replay the whole build. Each
    iteration is the classic two-step as narrow DataFrame ops:

    - **assign**: the centroids are k·dim driver-side constants, so
      nearest-cell is the shuffle-free map of :func:`assign_cells` —
      squared-distance argmin with a (distance, cell) tie-break, no
      join;
    - **update**: posexplode to (cell, dim, val), per-dim mean — the
      iteration's ONE shuffle — then the k·dim means come back to the
      driver and re-assemble ordered by dim.

    Cost/scale shape: seeding is a distributed top-k
    (TakeOrderedAndProject) with a k-row driver hop; per iteration one
    (cell, dim) aggregate over the corpus — no joins, no all-pairs
    anything, and never more than k·dim values at the driver.
    Iterations are intentionally few (quantizer quality needs single
    digits; production IVF builds sample the corpus for the build
    pass).

    Wrapper over :func:`kmeans_centroid_rows` for callers that want a
    DataFrame (persisting the quantizer, joining it). Callers that
    immediately need the DRIVER-SIDE rows — every search/assignment
    site — should call the rows form directly: round-tripping the
    k-row list through ``createDataFrame`` + ``collect`` scheduled
    one Python-backed task per row (~7 s of executor time per
    semdedup build at 32 cells, the top stage in its round-17
    profile) for data the driver already held."""
    if emb is None and vecs is None:
        # Explicit rejection (round-17 ADVICE): without it the
        # .sparkSession dereference below raises a bare
        # AttributeError on NoneType.
        raise ValueError("one of emb or vecs is required")
    return _cent_rows_df(
        (vecs if vecs is not None else emb).sparkSession,
        kmeans_centroid_rows(emb, n_clusters, n_iter, vec_col,
                             id_col, vecs=vecs))


def _cent_rows_df(spark, cent_rows) -> DataFrame:
    """[(cell, centroid)] rows → the (cell int, centroid
    array<double>) frame shape every quantizer consumer joins on."""
    return spark.createDataFrame(
        cent_rows, schema="cell int, centroid array<double>")


def kmeans_centroid_rows(emb: DataFrame, n_clusters: int = 8,
                         n_iter: int = 2,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         vecs: DataFrame | None = None) -> list:
    """The Lloyd's build of :func:`kmeans_centroids`, returning the
    k·dim-bounded driver-side ``[(cell, centroid)]`` list (cells
    ascending 0..k-1) instead of a DataFrame — the form every
    assignment/search consumes. Same seeding, same iteration
    arithmetic, bit-identical centroids; each iteration assigns
    through :func:`assign_cells`."""
    if n_clusters < 1:
        raise ValueError(
            f"n_clusters must be >= 1, got {n_clusters}")
    if vecs is None:
        if emb is None:
            raise ValueError("one of emb or vecs is required")
        vecs = checkpoint_vecs(emb, vec_col, id_col)
    seed_rows = kmeans_seed_query(vecs, n_clusters).collect()
    seed_rows.sort(key=lambda r: (r._h, r._id))
    cent_rows = [(i, [float(x) for x in r._v])
                 for i, r in enumerate(seed_rows)]
    for _ in range(n_iter):
        # Assignment is a map (no crossJoin, no shuffle) and _v never
        # leaves the row, so one iteration is exactly ONE shuffle:
        # the (cell, dim) mean.
        assigned = assign_cells(vecs, cent_rows, "_v")
        longf = assigned.select("cell",
                                F.posexplode("_v").alias("dim", "val"))
        means = (longf.groupBy("cell", "dim")
                 .agg(F.avg("val").alias("m")).collect())
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.dim] = r.m
        # Empty-cell rule: a cell that captured no vectors keeps its
        # previous centroid (deterministic; the oracle replays the
        # same coalesce) instead of silently vanishing from the mean
        # aggregate and shrinking k.
        cent_rows = [
            (cell,
             [by_cell[cell][d] for d in sorted(by_cell[cell])]
             if cell in by_cell else centroid)
            for cell, centroid in cent_rows]
    return cent_rows


#: The one nearest-centroid cutover. Up to this many centroids,
#: :func:`assign_cells` inlines them as literals (:func:`_assign_expr`):
#: a pure JVM projection with no Python boundary. Past it the
#: literals' Catalyst analysis + codegen cost (k·dim literal nodes,
#: paid per plan compile) outweighs that, and the ``mapInArrow``
#: kernel (:func:`_assign_arrow`) takes over: its plan is O(1) in k
#: and its per-row distance arithmetic is vectorized. Interleaved A/B
#: at sf0.1 (1,999 × 64-dim vectors, 4 cores; CHANGES.md): at k = 8
#: the fold wins the IVF search and the m-book IVF-PQ assignment; from
#: k = 12 the kernel's median wins at every site, by 7-14× at k = 256.
EXPR_ASSIGN_MAX_K = 8


def assign_cells(df: DataFrame, cent_rows, vec_col: str,
                 out_col: str = "cell") -> DataFrame:
    """``df`` plus ``out_col``: each row's nearest centroid among the
    driver-side ``[(cell, centroid)]`` rows — squared-distance argmin
    with a (distance, cell) tie-break, as a map over the scan (no
    join, no shuffle). Every nearest-centroid site in the package
    (Lloyd's iterations, IVF search and index writes, SemDeDup, PQ
    and IVF-PQ codes, residuals) goes through here.

    Both formulations give bit-identical cells (pinned in the tests
    against an independent crossJoin + ``min_by`` reference):

    - distance is the ascending-dim left fold of ``(x − c)²`` in
      double precision;
    - ties and NaN follow Spark's struct ordering: the smallest cell
      among equal distances, NaN after every number;
    - a degenerate row (NULL vector, NULL element, length ≠ the
      centroid dim) has only NULL distances and takes the smallest
      cell.

    Up to :data:`EXPR_ASSIGN_MAX_K` centroids the literal fold runs;
    past it the Arrow kernel. Ragged centroids (mixed dims, which no
    builder produces) always take the literal fold: only it
    reproduces the per-cell NULL distances ``zip_with`` padding
    gives them."""
    rows = sorted((int(c), [float(x) for x in v]) for c, v in cent_rows)
    if not rows:
        raise ValueError("cent_rows must be non-empty")
    if (len(rows) <= EXPR_ASSIGN_MAX_K
            or len({len(v) for _, v in rows}) != 1):
        return df.withColumn(out_col, _assign_expr(rows, vec_col))
    return _assign_arrow(df, rows, vec_col, out_col)


def _assign_expr(cent_rows, vec_col: str) -> F.Column:
    """The nearest cell as ONE parsed SQL expression with the
    centroids inlined as literals: per centroid a ``zip_with`` +
    ``aggregate`` squared-distance fold (x and y cast to double,
    ``0.0D`` seed, ``acc + v`` merge), and ``array_min`` over
    (d, cell) structs for the argmin.

    Parsed from a string, not built through the Column API: the
    Column form cost ~2 s of driver time per compile in py4j round
    trips (a dozen per lambda, one per literal element). Doubles are
    rendered with ``repr`` (shortest round-trip form; Spark's parser
    rounds correctly), so the literals are bit-exact."""
    def arr(vals):
        return "array(" + ",".join(repr(float(x)) + "D"
                                   for x in vals) + ")"
    pairs = ",".join(
        "struct(aggregate(zip_with(`%s`, %s, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
        "(acc, v) -> acc + v) AS d, CAST(%d AS INT) AS cell)"
        % (vec_col, arr(centroid), int(cell))
        for cell, centroid in cent_rows)
    return F.expr(f"array_min(array({pairs})).cell")


def _assign_arrow(df: DataFrame, cent_rows, vec_col: str,
                  out_col: str) -> DataFrame:
    """The nearest cell as a ``mapInArrow`` NumPy kernel over
    ``cent_rows`` sorted by cell, all of one dim. It keeps the literal
    fold's arithmetic and ordering:

    - squared distance accumulates over dims in ASCENDING order, one
      vectorized ``acc += diff²`` per dim — the same IEEE-double op
      sequence per (row, centroid) as the fold;
    - argmin takes the FIRST minimum over the ascending-cell axis,
      with NaN distances replaced by +inf first (all-NaN rows fall to
      the first cell, as struct-ordering ties do);
    - degenerate rows take the smallest cell directly.

    The centroid matrix (k·dim doubles) rides the task closure; one
    Arrow crossing carries the input columns."""
    import numpy as np

    if out_col in df.columns:
        df = df.drop(out_col)
    dim = len(cent_rows[0][1])
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cells = np.array([c for c, _ in cent_rows], dtype=np.int32)
    first_cell = int(cells[0])
    names = list(df.columns)
    out_names = names + [out_col]

    def _assign(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            col = batch.column(names.index(vec_col))
            flat = col.flatten()
            # Per-ROW length check (list_value_length), not just the
            # total: two rows of lengths dim-1 and dim+1 sum to 2*dim
            # and would silently misreshape under a total-only guard.
            lens = pa.compute.list_value_length(col)
            if (n and col.null_count == 0 and flat.null_count == 0
                    and lens.null_count == 0
                    and np.all(np.asarray(lens) == dim)):
                v = np.asarray(flat).reshape(n, dim)
                acc = np.zeros((n, len(cells)))
                for d in range(dim):
                    diff = v[:, d:d + 1] - cmat[None, :, d]
                    acc += diff * diff
                best = np.argmin(
                    np.where(np.isnan(acc), np.inf, acc), axis=1)
                out = cells[best]
            else:
                # Slow total path: per-row dispatch of the NULL /
                # length rules above; well-formed rows still fold
                # ascending-dim in float64.
                out = np.empty(n, dtype=np.int32)
                pyrows = col.to_pylist()
                for i, vec in enumerate(pyrows):
                    if (vec is None or len(vec) != dim
                            or any(x is None for x in vec)):
                        out[i] = first_cell
                        continue
                    va = np.asarray(vec, dtype=np.float64)
                    acc1 = np.zeros(len(cells))
                    for d in range(dim):
                        diff = va[d] - cmat[:, d]
                        acc1 += diff * diff
                    out[i] = cells[int(np.argmin(
                        np.where(np.isnan(acc1), np.inf, acc1)))]
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(out, type=pa.int32())],
                names=out_names)

    from pyspark.sql.types import IntegerType, StructField, StructType
    # A fresh StructType — StructType.add MUTATES, and handing
    # mapInArrow the DataFrame's own cached schema object would make
    # it look up the not-yet-existing output column on the input.
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, IntegerType())])
    return df.mapInArrow(_assign, out_schema)


def ivf_kmeans_search(emb: DataFrame, query_vec: list[float], k: int = 5,
                      n_probe: int = 2, n_clusters: int = 8,
                      n_iter: int = 2, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      round_digits: int = 6,
                      cents_df: DataFrame | None = None) -> DataFrame:
    """IVF search over a k-means-built quantizer: build centroids
    (no gold labels), assign every vector under the final centroids,
    rank cells by centroid·query cosine (k rows, driver-side), scan
    only the ``n_probe`` nearest cells, exact cosine top-k inside.
    With the learned cell as a partition key at write time the cell
    restriction is partition pruning, same as the label-IVF path.

    ``cents_df`` (round 5) is the INDEX-AMORTIZATION hook: pass a
    previously-built (cell, centroid) table — e.g. read back from
    the parquet a build job persisted — and the Lloyd's build is
    skipped entirely. At 100 TB the quantizer is built once (on a
    sample) and served to every query; a search that rebuilds its
    index per call is a benchmark artifact, not a serving path.
    Reuse ≡ inline-build is pytest-pinned via a parquet round-trip
    of the centroid table."""
    _check_n_probe(n_probe)
    vecs = checkpoint_vecs(emb, vec_col, id_col)
    if cents_df is None:
        # Rows form directly — no createDataFrame+collect round-trip
        # of driver-held data (one Python-backed task per row).
        cents = kmeans_centroid_rows(emb, n_clusters, n_iter,
                                     vec_col, id_col, vecs=vecs)
    else:
        cents = [(r.cell, list(r.centroid))
                 for r in cents_df.collect()]
    qd = [float(x) for x in query_vec]
    probe_cells = _probe_cells(cents, qd, n_probe)

    # Map-side assignment keeps _v on the row, so the probe is
    # scan → filter → cosine → TakeOrderedAndProject: no join at all.
    q = V.const_array(qd)
    return (assign_cells(vecs, cents, "_v")
            .filter(F.col("cell").isin(probe_cells))
            .select(F.col("_id").alias(id_col), "cell",
                    F.round(V.cosine(F.col("_v"), q),
                            round_digits).alias("cosine"))
            .orderBy(F.desc("cosine"), id_col)
            .limit(k))


def ivf_index_write(emb: DataFrame, cents_df: DataFrame, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    mode: str = "overwrite") -> list:
    """Materialize the IVF SERVING layout: assign every vector to its
    nearest frozen centroid map-side (no shuffle) and write
    ``partitionBy(cell)`` parquet, so a probe's cell restriction is
    partition PRUNING at read time (plan-asserted in tests). Returns
    the driver-side [(cell, centroid)] rows so callers can chain into
    :func:`ivf_index_append` / :func:`ivf_index_search` without
    re-collecting the k-row centroid table.

    This is the write-once half of index amortization at 100 TB: the
    quantizer is built once on a sample (:func:`kmeans_centroids`),
    then this single linear pass lays the corpus out for every future
    query. No reference analog — the reference has no vector index;
    posture mirrors its write-once transfer sink
    (picoprobe/flows.py transfer step)."""
    cent_rows = sorted((int(r.cell), list(r.centroid))
                       for r in cents_df.collect())
    assigned = assign_cells(emb, cent_rows, vec_col)
    (assigned.select(id_col, vec_col, "cell")
             .write.partitionBy("cell").mode(mode).parquet(path))
    return cent_rows


def ivf_index_append(new_emb: DataFrame, cent_rows, path: str,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> None:
    """INCREMENTAL index maintenance: assign only the NEW batch under
    the same frozen quantizer and append its rows to the partitioned
    layout. Work ∝ |batch| — the existing index is never read, never
    rewritten, and the append lands only in the partitions the
    batch's vectors map to; a growing corpus pays one linear pass per
    increment instead of a rebuild (the MinHash incremental-dedup
    rule applied to the ANN index). Append-after-build ≡
    build-on-union is pytest-pinned; centroids drifting away from the
    data distribution are a REBUILD decision, made by re-running
    :func:`kmeans_centroids`, not silently inside the append."""
    assigned = assign_cells(new_emb, cent_rows, vec_col)
    (assigned.select(id_col, vec_col, "cell")
             .write.partitionBy("cell").mode("append").parquet(path))


def ivf_index_search(index: DataFrame, cent_rows,
                     query_vec: list[float], k: int = 5,
                     n_probe: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     round_digits: int = 6) -> DataFrame:
    """Serve a query from the PERSISTED layout: rank the k-row
    driver-side centroid list by centroid·query cosine (same ranking
    as :func:`ivf_kmeans_search` — the shared :func:`_probe_cells`
    (−cos, cell) order), restrict the scan to the ``n_probe``
    nearest cells — partition pruning against the
    ``partitionBy(cell)`` parquet — and exact-cosine top-k inside.
    The serving plan is scan → filter → cosine →
    TakeOrderedAndProject: no Lloyd's build, no assignment, no
    join."""
    _check_n_probe(n_probe)
    qd = [float(x) for x in query_vec]
    probe_cells = _probe_cells(cent_rows, qd, n_probe)
    q = V.const_array(qd)
    return (index.filter(F.col("cell").isin(probe_cells))
                 .select(F.col(id_col), "cell",
                         F.round(V.cosine(F.col(vec_col), q),
                                 round_digits).alias("cosine"))
                 .orderBy(F.desc("cosine"), id_col)
                 .limit(k))


#: SemDeDup auto-k default: cells sized so the expected population is
#: ~this many vectors. Within-cell pair work is then O(N · pop), i.e.
#: LINEAR in the corpus — with a fixed k it is O(N²/k), the classic
#: SemDeDup scale-killer (cell population grows ∝ N).
SEMDEDUP_TARGET_CELL_POP = 64


def semdedup_auto_k(n_vectors: int,
                    target_cell_pop: int = SEMDEDUP_TARGET_CELL_POP,
                    k_min: int = 8) -> int:
    """Corpus-derived cluster count for :func:`semantic_dedup`:
    ``max(k_min, ceil(N / target_cell_pop))``. Keeping the expected
    cell population constant makes the within-cell self-join scale
    linearly with the corpus instead of quadratically — the rule the
    oracle replays (same formula, SQL-side count)."""
    return max(k_min, -(-int(n_vectors) // int(target_cell_pop)))


def semdedup_centroid_rows(emb: DataFrame, n_iter: int = 2,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           target_cell_pop: int =
                           SEMDEDUP_TARGET_CELL_POP,
                           n_clusters: int | None = None,
                           vecs: DataFrame | None = None) -> list:
    """The SemDeDup COLD BUILD, factored to one site: checkpointed
    (_id, _v) projection (reused when the caller already built it),
    auto-k from the corpus count, the deterministic k-means pass, and
    the sorted k·dim-bounded [(cell, centroid)] rows — exactly what
    :func:`semantic_dedup` consumes via ``cent_rows`` and what a
    serving deployment caches per corpus snapshot."""
    if vecs is None:
        vecs = checkpoint_vecs(emb, vec_col, id_col)
    if n_clusters is None:
        n_clusters = semdedup_auto_k(vecs.count(), target_cell_pop)
    # Rows form directly (round 17): the previous
    # kmeans_centroids(...).collect() round-tripped the k-row list
    # the driver already held through createDataFrame + collect —
    # one Python-backed task PER ROW, the top stage of the semdedup
    # profile (~7 s executor time at 32 cells).
    return sorted(kmeans_centroid_rows(emb, n_clusters, n_iter,
                                       vec_col, id_col, vecs=vecs))


def semantic_dedup(emb: DataFrame, n_clusters: int | None = None,
                   n_iter: int = 2,
                   threshold: float = 0.4, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   round_digits: int = 6,
                   target_cell_pop: int = SEMDEDUP_TARGET_CELL_POP,
                   cent_rows: list | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space with the deterministic k-means build, evaluate cosine only
    WITHIN each cluster, and greedily keep the smallest-id member of
    every near-duplicate neighborhood — a vector is pruned iff some
    smaller-id vector in its cluster sits at cosine ≥ ``threshold``.
    Returns one verdict row per vector:
    (id, cell, n_similar, keep).

    Cosines are rounded to ``round_digits`` BEFORE thresholding
    (catalog rule: never let a last-ulp difference flip a boundary
    decision).

    ``n_clusters`` defaults to the AUTO-K rule
    (:func:`semdedup_auto_k`): k = max(8, ceil(N/target_cell_pop)),
    derived from one count over the already-checkpointed projection —
    so the default configuration keeps the expected cell population
    at ``target_cell_pop`` regardless of corpus size. An explicit
    ``n_clusters`` overrides (test/oracle pinning).

    Scale shape: the build is the sampled-corpus k-means pass
    (:func:`kmeans_centroids` — one (cell, dim) aggregate per
    iteration); assignment is the shuffle-free map of
    :func:`assign_cells` (the Arrow kernel once auto-k passes
    :data:`EXPR_ASSIGN_MAX_K` cells); the only quadratic work is
    the within-cell self-join, which is the SemDeDup trick — with the
    learned cell as a partition key the join is partition-local, and
    under auto-k cell population is ~target_cell_pop, never corpus/k
    of a growing corpus. The neighbor aggregate is one hash shuffle
    keyed by the high-cardinality vector id."""
    vecs = checkpoint_vecs(emb, vec_col, id_col)
    # ``cent_rows`` (round 13): a prebuilt [(cell, centroid)] list —
    # the k·dim-bounded index a deployment trains ONCE and serves to
    # every dedup pass (the amortization the quantized-ANN suite
    # already does via _quant_shared_build). Skips both the Lloyd's
    # build and the auto-k count; prune verdicts are identical when
    # the rows came from the same build, which is what the
    # served-vs-cold equality test pins. The cold build itself is the
    # ONE shared :func:`semdedup_centroid_rows` (round-13 review
    # find: the served caller had copied these lines, a lockstep
    # burden).
    if cent_rows is None:
        cent_rows = semdedup_centroid_rows(
            emb, n_iter, vec_col, id_col, target_cell_pop,
            n_clusters=n_clusters, vecs=vecs)
    # The assignment output feeds THREE consumers (both self-join
    # sides and the final verdict join) and Spark plans them as
    # independent subtrees — un-materialized, the whole argmin pass
    # ran once per consumer (round 17; guide §5). Checkpointed, as a
    # persist would outlive the call in the session's cache manager.
    assigned, _ = materialize(assign_cells(vecs, cent_rows, "_v"))
    a = assigned.select(F.col("_id").alias("id_a"),
                        F.col("_v").alias("v_a"),
                        V.norm(F.col("_v")).alias("n_a"), "cell")
    b = assigned.select(F.col("_id").alias("id_b"),
                        F.col("_v").alias("v_b"),
                        V.norm(F.col("_v")).alias("n_b"), "cell")
    pairs = (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cos", F.round(V.cosine_prenorm(
                 F.col("v_a"), F.col("v_b"),
                 F.col("n_a"), F.col("n_b")), round_digits))
             .filter(F.col("cos") >= threshold)
             .select("id_a", "id_b"))
    # Both neighbor directions via ONE row-local explode instead of a
    # unionAll of two pair-subtree copies (round 17): the union made
    # the whole within-cell join + cosine pass evaluate TWICE. The
    # exploded multiset is identical, so the count/min aggregate —
    # integer arithmetic — is unchanged.
    nbrs = pairs.select(F.explode(F.array(
        F.struct(F.col("id_a").alias("_id"),
                 F.col("id_b").alias("nbr")),
        F.struct(F.col("id_b").alias("_id"),
                 F.col("id_a").alias("nbr")))).alias("_e")) \
        .select("_e._id", "_e.nbr")
    agg = nbrs.groupBy("_id").agg(
        F.count("*").cast("long").alias("n_similar"),
        F.min("nbr").alias("_mn"))
    return (assigned.join(agg, "_id", "left")
            .select(F.col("_id").alias(id_col), "cell",
                    F.coalesce("n_similar", F.lit(0)).cast("long")
                     .alias("n_similar"),
                    F.coalesce(F.col("_mn") > F.col("_id"), F.lit(True))
                     .alias("keep")))


def _with_codes(df: DataFrame, codebooks, vec_col: str,
                sub: int) -> DataFrame:
    """``df`` plus code columns ``c0..c{m-1}``: subspace i's code is
    the nearest centroid of ``codebooks[i]`` to the i-th ``sub``-wide
    slice of ``vec_col``."""
    for i, book in enumerate(codebooks):
        df = assign_cells(
            df.withColumn("_sl", F.slice(vec_col, i * sub + 1, sub)),
            book, "_sl", f"c{i}").drop("_sl")
    return df


def pq_encode(emb: DataFrame, m: int = 4, n_codes: int = 8,
              n_iter: int = 2, dim: int = 64,
              vec_col: str = "embedding", id_col: str = "vec_id",
              vecs: DataFrame | None = None):
    """Product-quantization encode: split the ``dim``-d space into
    ``m`` contiguous subspaces, run the deterministic k-means build
    in EACH subspace (md5-seeded, same Lloyd's as the IVF quantizer),
    and store each vector as ``m`` one-byte codes — the
    dim·4-bytes → m-bytes compression lever (64-d float32 → 4 bytes
    here, a 64× storage cut; int8 quantization's big sibling).

    Returns ``(codes_df, codebooks)``: codes_df is
    (_id, c0..c{m-1}); codebooks is the list of per-subspace
    (cell, centroid) rows (m·k·(dim/m) doubles — driver-bounded, the
    k-row centroid-table argument).

    Scale shape: the m builds run JOINTLY — per Lloyd iteration, all
    m subspace assignments are :func:`assign_cells` maps over one
    scan, and all m codebooks update through ONE
    (subspace, cell, dim) mean aggregate (m·k·(dim/m) = k·dim output
    rows — driver-bounded like any centroid table). So the whole
    build costs ``n_iter`` corpus aggregates + one seed top-k,
    independent of m — not m separate build passes. Encoding is m
    map-side assignments over one scan — no joins, no shuffles, the
    narrow projection a 100 TB encode pass must be. Per-subspace
    means equal the independent-build means exactly (same value
    multisets per (subspace, cell, dim) group)."""
    sub = _check_subspaces(m, dim)
    if vecs is None:
        vecs = checkpoint_vecs(emb, vec_col, id_col)
    # One seed top-k for all subspaces: the md5(_id) rank picks the
    # SAME seed vectors in every subspace (the oracle's per-subspace
    # row_number over identical ids), so slicing the k full seed
    # vectors driver-side reproduces every subspace's seeds.
    seed_rows = kmeans_seed_query(vecs, n_codes).collect()
    seed_rows.sort(key=lambda r: (r._h, r._id))
    codebooks = [
        [(c, [float(x) for x in r._v[i * sub:(i + 1) * sub]])
         for c, r in enumerate(seed_rows)]
        for i in range(m)]

    for _ in range(n_iter):
        assigned = _with_codes(vecs, codebooks, "_v", sub)
        cell = F.element_at(
            F.array(*[F.col(f"c{i}") for i in range(m)]),
            (F.floor(F.col("_p") / sub) + 1).cast("int"))
        longf = (assigned
                 .select(F.posexplode("_v").alias("_p", "_val"),
                         *[f"c{i}" for i in range(m)])
                 .select(F.floor(F.col("_p") / sub).cast("int")
                         .alias("_sp"),
                         cell.alias("_cell"),
                         (F.col("_p") % sub).cast("int").alias("_dim"),
                         "_val"))
        means = (longf.groupBy("_sp", "_cell", "_dim")
                 .agg(F.avg("_val").alias("_m")).collect())
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_key.setdefault((r._sp, r._cell), {})[r._dim] = r._m
        codebooks = [
            [(c, [by_key[(i, c)][d] for d in sorted(by_key[(i, c)])]
              if (i, c) in by_key else cent)
             for c, cent in codebooks[i]]
            for i in range(m)]
    out = _with_codes(vecs, codebooks, "_v", sub)
    return out.select("_id", *[f"c{i}" for i in range(m)]), codebooks


def pq_adc_search(emb: DataFrame, query_vec: list[float], k: int = 10,
                  m: int = 4, n_codes: int = 8, n_iter: int = 2,
                  dim: int = 64, vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  round_digits: int = 6,
                  prebuilt: tuple | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query
    precomputes an m×k lookup table of squared distances to every
    codebook centroid (driver-side, m·k doubles), and each vector's
    approximate distance is the sum of m table lookups on its codes —
    never touching the original vectors. Distances are rounded before
    ranking (catalog rule) with an id tie-break.

    ``prebuilt`` (round 6) is the index-amortization hook — pass the
    ``(codes_df, codebooks)`` pair of a previous :func:`pq_encode`
    and the build is skipped entirely: at 100 TB the codebooks are
    trained once (on a sample) and every query consumes them; the
    quantized-suite host shares ONE build across pq_adc/ivfpq
    (identical raw-vector subspace books by construction — same
    seeds, same per-(subspace, cell, dim) mean multisets).

    Scale shape: scan of the (m+1)-column code table → m
    ``element_at`` lookups against literal arrays → chained sum →
    TakeOrderedAndProject. No join, no shuffle, no window; the fat
    vector column never enters the search plan at all — the whole
    point of PQ at 100 TB."""
    sub = _check_subspaces(m, dim)
    if prebuilt is not None:
        codes, codebooks = prebuilt
    else:
        codes, codebooks = pq_encode(emb, m, n_codes, n_iter, dim,
                                     vec_col, id_col)
    qd = [float(x) for x in query_vec]
    adc = _adc_expr(codebooks, qd, sub)
    return (codes
            .withColumn("adc", F.round(adc, round_digits))
            .select(F.col("_id").alias(id_col),
                    *[f"c{i}" for i in range(m)], "adc")
            .orderBy(F.asc("adc"), F.asc(id_col))
            .limit(k))


def ivfpq_search(emb: DataFrame, query_vec: list[float], k: int = 10,
                 n_cells: int = 8, n_probe: int = 2, m: int = 4,
                 n_codes: int = 8, n_iter: int = 2, dim: int = 64,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 round_digits: int = 6,
                 vecs: DataFrame | None = None,
                 coarse_rows: list | None = None,
                 codebooks: list | None = None,
                 rerank: int | None = None) -> DataFrame:
    """IVF-PQ composed search (the FAISS IVFPQ architecture, raw-
    vector PQ — no residual encoding): a full-space k-means coarse
    quantizer restricts the scan to the ``n_probe`` cells nearest the
    query, and WITHIN those cells ranking is by PQ asymmetric
    distance — the memory-compressed probe a 100 TB vector store
    actually runs (cell = partition key → the probe is partition
    pruning; ADC reads codes, never vectors).

    ``rerank`` (round 7) adds the production REFINE stage (FAISS
    IVFPQ+refine): the ADC ranking keeps a ``rerank``-deep shortlist
    instead of k, and the true vectors of ONLY those rows are
    fetched (one broadcast semi-join of ``rerank`` ids — at 100 TB
    this is the bounded id-lookup against the vector store, never a
    corpus scan) and re-scored with exact cosine; the top-k of the
    refined scores is returned as (id, cosine). ADC quantization
    error then only hurts if a true neighbor falls OUT of the
    shortlist, so recall is governed by (probe coverage ∩ shortlist
    depth) — measured at sf0.01: 64 cells / probe 16 / m=8 / 256
    codes / rerank 50 achieves recall@10 = 1.0 vs brute force while
    scanning ~25% of cells and re-scoring 50 vectors (SCALE.md
    round-7 recall table).

    The FIVE builds (coarse + m subspaces) run jointly: per Lloyd
    iteration, every assignment is an :func:`assign_cells` map over
    one scan, and ALL codebooks update through a
    single (builder, cell, dim) mean aggregate — one corpus pass per
    iteration, independent of m, over one checkpointed (_id, _v)
    projection. Per-(builder, cell, dim) value multisets equal the
    independent builds', so the shared oracle CTE chain replays
    unchanged. Everything after the builds is one narrow pass: probe
    ``isin`` filter, literal-LUT lookups, TakeOrderedAndProject —
    zero joins, zero windows, zero extra shuffles. Distances round
    before ranking, id tie-break.

    ``vecs``/``coarse_rows``/``codebooks`` (round 6) are the
    index-amortization hooks: pass a previously checkpointed
    ``(_id, _v)`` projection and previously trained coarse/subspace
    books (e.g. from the quantized-suite shared build) and the five
    Lloyd's builds are skipped. The joint build here and the
    independent :func:`kmeans_centroids` + :func:`pq_encode` builds
    are value-identical (coarse assignment never feeds subspace
    updates and vice versa — per-(builder, cell, dim) mean multisets
    coincide), so injection cannot change results
    (pytest-pinned)."""
    _check_n_probe(n_probe)
    sub = _check_subspaces(m, dim)
    if (coarse_rows is None) != (codebooks is None):
        # Partial injection would silently discard the provided
        # quantizer and re-seed BOTH from scratch — results could
        # differ from what the caller expects. Make it loud.
        raise ValueError(
            "ivfpq_search: provide BOTH coarse_rows and codebooks "
            "(injected index) or NEITHER (fresh build) — got exactly "
            "one.")
    if vecs is None:
        vecs = checkpoint_vecs(emb, vec_col, id_col)
    build_needed = coarse_rows is None or codebooks is None
    if build_needed:
        # One seed top-k serves every builder (md5(_id) rank is
        # space-independent): full seed vectors for the coarse book,
        # their slices for the subspace books.
        seed_rows = kmeans_seed_query(
            vecs, max(n_cells, n_codes)).collect()
        seed_rows.sort(key=lambda r: (r._h, r._id))
        coarse_rows = [(c, [float(x) for x in r._v])
                       for c, r in enumerate(seed_rows[:n_cells])]
        codebooks = [
            [(c, [float(x) for x in r._v[i * sub:(i + 1) * sub]])
             for c, r in enumerate(seed_rows[:n_codes])]
            for i in range(m)]

    def assigned_df():
        return _with_codes(assign_cells(vecs, coarse_rows, "_v"),
                           codebooks, "_v", sub)

    for _ in range(n_iter if build_needed else 0):
        ex = assigned_df().select(
            "cell", *[f"c{i}" for i in range(m)],
            F.posexplode("_v").alias("_p", "_val"))
        coarse_part = ex.select(
            F.lit(-1).alias("_b"), F.col("cell").alias("_cell"),
            F.col("_p").alias("_dim"), "_val")
        sub_part = ex.select(
            F.floor(F.col("_p") / sub).cast("int").alias("_b"),
            F.element_at(F.array(*[F.col(f"c{i}") for i in range(m)]),
                         (F.floor(F.col("_p") / sub) + 1).cast("int"))
             .alias("_cell"),
            (F.col("_p") % sub).cast("int").alias("_dim"), "_val")
        means = (coarse_part.unionAll(sub_part)
                 .groupBy("_b", "_cell", "_dim")
                 .agg(F.avg("_val").alias("_m")).collect())
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_key.setdefault((r._b, r._cell), {})[r._dim] = r._m
        coarse_rows = [
            (c, [by_key[(-1, c)][d] for d in sorted(by_key[(-1, c)])]
             if (-1, c) in by_key else cent)
            for c, cent in coarse_rows]
        codebooks = [
            [(c, [by_key[(i, c)][d] for d in sorted(by_key[(i, c)])]
              if (i, c) in by_key else cent)
             for c, cent in codebooks[i]]
            for i in range(m)]

    qd = [float(x) for x in query_vec]
    probe_cells = _probe_cells(coarse_rows, qd, n_probe)

    # codes only for rows in the probed cells: the filter cannot pass
    # below a book's mapInArrow, so it goes between the two passes
    df = _with_codes(assign_cells(vecs, coarse_rows, "_v")
                     .filter(F.col("cell").isin(probe_cells)),
                     codebooks, "_v", sub)
    adc = _adc_expr(codebooks, qd, sub)
    ranked = (df.withColumn("adc", F.round(adc, round_digits))
              .select(F.col("_id").alias(id_col), "cell",
                      *[f"c{i}" for i in range(m)], "adc")
              .orderBy(F.asc("adc"), F.asc(id_col)))
    if rerank is None:
        return ranked.limit(k)
    short = ranked.limit(int(rerank)).select(id_col)
    qcol = V.const_array(qd)
    return (vecs.join(F.broadcast(short),
                      vecs["_id"] == short[id_col])
            .select(F.col("_id").alias(id_col),
                    F.round(V.cosine(F.col("_v"), qcol),
                            round_digits).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def batch_topk_cosine(queries: DataFrame, corpus: DataFrame,
                      k: int = 5, shard_span: int = 32,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      round_digits: int = 6) -> DataFrame:
    """Top-k cosine neighbors for EVERY query in a batch (the
    many-queries retrieval shape: eval-set contamination probes,
    nearest-neighbor labeling, RAG batch lookup). The query side
    broadcasts (it is the small side by construction); scores are
    rounded before ranking with an id tie-break.

    Scale shape: a naive per-query window would funnel |corpus| rows
    through |queries| partitions — the few-huge-groups trap. This is
    the TWO-PHASE sharded top-N instead (same discipline as
    stratified_sample): phase 1 ranks within (query, id-shard) —
    parallel across the whole corpus — and keeps k per shard; phase
    2 ranks the ≤ k·shards survivors per query. No corpus-
    proportional data ever crosses one partition."""
    from pyspark.sql.window import Window as W

    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("_qv"),
                       V.norm(F.col(vec_col)).alias("_nq"))
    scored = (corpus.select(F.col(id_col), F.col(vec_col),
                            V.norm(F.col(vec_col)).alias("_nv"))
              .join(F.broadcast(q))
              .select("qid", id_col,
                      F.round(V.cosine_prenorm(
                          F.col(vec_col), F.col("_qv"),
                          F.col("_nv"), F.col("_nq")),
                          round_digits).alias("cosine")))
    sh = F.expr(f"CAST({id_col} AS BIGINT) div {int(shard_span)}")
    w1 = (W.partitionBy("qid", "_sh")
          .orderBy(F.desc("cosine"), F.asc(id_col)))
    survivors = (scored.withColumn("_sh", sh)
                 .withColumn("_r1", F.row_number().over(w1))
                 .filter(F.col("_r1") <= k))
    w2 = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (survivors
            .withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= k)
            .select("qid", id_col, "cosine", "rk"))


def with_residual(df: DataFrame, coarse_rows: list) -> DataFrame:
    """Append (cell, _r = _v − coarse_centroid(cell)) to a ``(_id,
    _v)`` projection — the IVF residual stream as a PURE MAP: the
    :func:`assign_cells` cell selects one of the k centroid literals
    and ``zip_with`` subtracts it, zero joins/shuffles. Shared by the
    residual search and the quantized-suite shared build."""
    cents_arr = F.array(*[
        V.const_array(cent)
        for _c, cent in coarse_rows])         # ordered by cell 0..k-1
    cent = F.element_at(cents_arr, F.col("cell") + 1)
    return (assign_cells(df, coarse_rows, "_v")
            .withColumn("_r", F.zip_with("_v", cent,
                                         lambda a, b: a - b)))


def ivfpq_residual_search(emb: DataFrame, query_vec: list[float],
                          k: int = 10, n_cells: int = 8,
                          n_probe: int = 2, m: int = 4,
                          n_codes: int = 8, n_iter: int = 2,
                          dim: int = 64, vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          round_digits: int = 6,
                          vecs: DataFrame | None = None,
                          coarse_rows: list | None = None,
                          res_codebooks: list | None = None,
                          rerank: int | None = None) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ (FAISS's ``by_residual=True`` default):
    the PQ codebooks quantize ``v − coarse_centroid(cell(v))`` instead
    of the raw vector, so all of the codebook's resolution is spent on
    the within-cell displacement — the accuracy upgrade over
    :func:`ivfpq_search` at identical storage. Query-time the lookup
    table becomes PER PROBED CELL (the query residual differs per
    cell): n_probe·m·k entries, still driver-bounded literals.

    Scale shape: coarse build + m subspace builds over the residual
    stream — the residual is a pure map (zip_with against the k
    centroid literals selected by the map-side cell), so the extra
    encode stage adds ZERO shuffles; search stays codes-only with a
    cell-dispatched CASE over the probed cells' lookup tables,
    TakeOrderedAndProject at the end. Distances round before
    ranking.

    ``vecs``/``coarse_rows``/``res_codebooks`` (round 6) are the
    index-amortization hooks, same contract as :func:`ivfpq_search`:
    inject a checkpointed projection, a previously built coarse
    quantizer, and previously trained RESIDUAL-stream codebooks and
    the builds are skipped (equality with the self-build path is
    pytest-pinned). ``rerank`` (round 7) adds the same exact-refine
    stage as :func:`ivfpq_search`: ADC keeps a ``rerank``-deep
    shortlist whose true vectors are re-scored with exact cosine via
    one broadcast id-join, returning (id, cosine) top-k."""
    _check_n_probe(n_probe)
    sub = _check_subspaces(m, dim)
    if vecs is None:
        vecs = checkpoint_vecs(emb, vec_col, id_col)
    if coarse_rows is None:
        coarse_rows = sorted(kmeans_centroid_rows(
            None, n_cells, n_iter, vecs=vecs))
    if res_codebooks is None:
        residuals, _ = materialize(
            with_residual(vecs, coarse_rows)
            .select("_id", F.col("_r").alias("_v")))
        _, codebooks = pq_encode(None, m, n_codes, n_iter, dim,
                                 vecs=residuals)
    else:
        codebooks = res_codebooks

    qd = [float(x) for x in query_vec]
    probe_cells = _probe_cells(coarse_rows, qd, n_probe)
    coarse_by_cell = dict(coarse_rows)

    # codes over the residual stream of the probed cells only
    df = _with_codes(with_residual(vecs, coarse_rows)
                     .filter(F.col("cell").isin(probe_cells)),
                     codebooks, "_r", sub)

    # per-probed-cell ADC: query residual differs per cell, so each
    # subspace term dispatches on the row's cell over n_probe tables.
    adc = None
    for i, book in enumerate(codebooks):
        term = None
        for cell in probe_cells:
            qres = [qd[j] - coarse_by_cell[cell][j]
                    for j in range(i * sub, (i + 1) * sub)]
            lut = []
            for _code, cent in book:
                d = 0.0
                for a, b in zip(qres, cent):   # ascending dim, left-assoc
                    d = d + (a - b) * (a - b)
                lut.append(d)
            hit = F.element_at(V.const_array(lut),
                               F.col(f"c{i}") + 1)
            term = (F.when(F.col("cell") == cell, hit) if term is None
                    else term.when(F.col("cell") == cell, hit))
        adc = term if adc is None else adc + term
    ranked_df = (df.withColumn("adc", F.round(adc, round_digits))
                 .select(F.col("_id").alias(id_col), "cell",
                         *[f"c{i}" for i in range(m)], "adc")
                 .orderBy(F.asc("adc"), F.asc(id_col)))
    if rerank is None:
        return ranked_df.limit(k)
    short = ranked_df.limit(int(rerank)).select(id_col)
    qcol = V.const_array(qd)
    return (vecs.join(F.broadcast(short),
                      vecs["_id"] == short[id_col])
            .select(F.col("_id").alias(id_col),
                    F.round(V.cosine(F.col("_v"), qcol),
                            round_digits).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k))


def semantic_decontam(corpus: DataFrame, bench: DataFrame,
                      threshold: float = 0.9,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      round_digits: int = 6) -> DataFrame:
    """(id, nearest_bench, max_cosine, contaminated): per-corpus-row
    maximum cosine against a benchmark embedding set — the SEMANTIC
    transport of benchmark decontamination, completing the lane's
    trio (exact n-gram overlap, Bloom-prefiltered spans, and now
    embeddings): n-gram decontam misses PARAPHRASED eval items, and
    checking the corpus against embedded benchmark questions is the
    published mitigation (the Phi / LLaMA-3 report decontam recipe).
    ``nearest_bench`` is the argmax benchmark id (score desc, min id
    on ties — rounded scores first, the cross-engine tie rule);
    ``contaminated`` gates on the rounded score.

    Scale shape: eval sets are k-bounded by construction, so the
    bench side BROADCASTS (norms precomputed once per side) — one
    broadcast nested-loop against the corpus scan, then ONE
    corpus-id-keyed max/max_by aggregate. No corpus self-join, no
    window; the per-row cost is |bench|·dim multiply-adds JVM-side.
    Corpora too big for even that linear pass pre-filter with the
    SRP/IVF buckets (``srp_ann_search`` machinery) and run this
    exact pass on candidates only."""
    b = bench.select(F.col(id_col).alias("_bid"),
                     F.col(vec_col).alias("_bv"),
                     V.norm(F.col(vec_col)).alias("_nb"))
    scored = (corpus.select(F.col(id_col),
                            F.col(vec_col),
                            V.norm(F.col(vec_col)).alias("_nv"))
              .join(F.broadcast(b))
              .select(id_col, "_bid",
                      F.round(V.cosine_prenorm(
                          F.col(vec_col), F.col("_bv"),
                          F.col("_nv"), F.col("_nb")),
                          round_digits).alias("_cos")))
    return (scored.groupBy(id_col)
            .agg(F.max_by("_bid",
                          F.struct(F.col("_cos").alias("c"),
                                   F.bitwise_not(
                                       F.col("_bid").cast("long"))
                                   .alias("t")))
                 .alias("nearest_bench"),
                 F.max("_cos").alias("max_cosine"))
            .select(F.col(id_col), "nearest_bench", "max_cosine",
                    # A degenerate (zero-norm) vector has NULL
                    # cosines — undefined similarity CANNOT flag as
                    # contamination, so the gate coalesces to false
                    # (max_cosine stays NULL, the honest signal;
                    # nearest_bench is meaningless on such rows).
                    F.coalesce(F.col("max_cosine") >= threshold,
                               F.lit(False))
                    .alias("contaminated")))

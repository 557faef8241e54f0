"""Scientific-kernel catalog queries — hyperspectral reductions
(A12/A13), frame normalization (A14/F10), and windowed event rates
(ST6) with exact DuckDB oracles.

The cube/frame inputs are deterministic range-generated tables
(:mod:`..operators.scientific`) because the parquet testdata carries no
pixel tables; both engines generate identical rows from the same
integer recurrences, so the reductions check the *operators*, not a
data loader. The EMD-file path (binary → long-form) is covered by
pytest with FAKE-EMD fixtures (tests/test_scientific_io.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from picoprobedataflow_spark.operators import scientific as SC
from picoprobedataflow_spark.plans.catalog import query
from picoprobedataflow_spark.plans.common import events_us, prep

_CUBE_CTE = """
cube AS (
  SELECT CAST(i % 32 AS INT)              AS x,
         CAST((i // 32) % 32 AS INT)      AS y,
         CAST(i // 1024 AS INT)           AS channel,
         ((i * 2654435761) % 100000) / 10.0 AS counts
  FROM range(32 * 32 * 16) t(i)
)"""

_FRAMES_CTE = """
frames AS (
  SELECT CAST(i // 256 AS INT)        AS t,
         CAST((i // 16) % 16 AS INT)  AS x,
         CAST(i % 16 AS INT)          AS y,
         ((i * 1103515245 + 12345) % 65536) / 256.0 AS intensity
  FROM range(8 * 16 * 16) t(i)
)"""


@query(
    "scientific_reduce_suite",
    oracle="WITH " + _CUBE_CTE + "," + _FRAMES_CTE + """,
bounds AS (
  SELECT t, min(intensity) AS lo, max(intensity) AS hi
  FROM frames GROUP BY t
)
SELECT 'image' AS family, x AS k1, y AS k2,
       round(sum(counts), 4) AS v1, CAST(NULL AS DOUBLE) AS v2
FROM cube GROUP BY x, y
UNION ALL
SELECT 'spectrum', channel, NULL,
       round(sum(counts), 4),
       (-479.0021 + 5.0 * channel) / 1000.0
FROM cube GROUP BY channel
UNION ALL
SELECT 'frames_u8', f.t,
       CASE WHEN b.hi = b.lo THEN 0
            ELSE CAST(floor((f.intensity - b.lo) / (b.hi - b.lo) * 255.0
                            + 0.499999999) AS INT) END,
       CAST(count(*) AS DOUBLE), NULL
FROM frames f JOIN bounds b ON f.t = b.t
GROUP BY 2, 3
""",
    tags=("A12", "A13", "A14", "F10", "F11", "scientific"),
)
def scientific_reduce_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-file scientific kernels as long-form relational
    aggregates, three families over the deterministic cube/frame
    tables: ``image`` = Σ over the channel axis (A12,
    ``hs_image.sum(axis=2)``, tools/hyperspectral.py:96); ``spectrum``
    = Σ over spatial axes with the energy axis F11
    (``(x_offset + x_increment·arange(n))/1000`` keV, :69-74,104);
    ``frames_u8`` = per-frame min/max → uint8 histogram (A14/F10,
    the ``(x-min)/(max-min)*255 + 0.499999999`` encode,
    tools/temporal.py:21-35; a constant frame is all 0) — grouped
    bounds, broadcast-join back, exact double expression on both
    engines."""
    prep(spark)
    cube = SC.synthetic_cube(spark, 32, 32, 16)
    nuld = F.lit(None).cast("double")
    img = (SC.spectral_image(cube, keys=())
           .select(F.lit("image").alias("family"),
                   F.col("x").cast("long").alias("k1"),
                   F.col("y").cast("long").alias("k2"),
                   F.round("intensity", 4).alias("v1"),
                   nuld.alias("v2")))
    sp = (SC.spectrum(cube, keys=())
          .select(F.lit("spectrum").alias("family"),
                  F.col("channel").cast("long").alias("k1"),
                  F.lit(None).cast("long").alias("k2"),
                  F.round("counts", 4).alias("v1"),
                  F.col("energy_kev").alias("v2")))
    frames = SC.synthetic_frames(spark, 8, 16, 16)
    px = SC.normalize_frames(frames, keys=("t",))
    fr = (px.groupBy("t", "px").agg(F.count("*").alias("n"))
          .select(F.lit("frames_u8").alias("family"),
                  F.col("t").cast("long").alias("k1"),
                  F.col("px").cast("long").alias("k2"),
                  F.col("n").cast("double").alias("v1"),
                  nuld.alias("v2")))
    return img.unionByName(sp).unionByName(fr)


def windowed_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 — tumbling-window event rates: the batch twin of the
    streaming ``window()`` aggregate (streaming/watch.py). Window
    start emitted as exact epoch-µs so both engines bucket the same
    int64.

    Bench-pinned standalone form; its oracle-gated catalog home is
    ``streaming_hourly_rates``, which computes the identical aggregate
    THROUGH Structured Streaming (stream≡batch enforced by the hash
    gate; folded so the catalog stays inside the checker's window)."""
    ev = events_us(spark, sf_dir)
    # hour bucket on exact µs: floor(ts / 3600e6) * 3600e6
    bucket = F.expr("(ts div 3600000000) * 3600000000")
    from picoprobedataflow_spark.plans.common import cents
    return (ev.groupBy(bucket.alias("window_start_us"), "event_type")
              .agg(F.count("*").alias("n"),
                   F.round(F.sum(cents()) / 100.0, 2).alias("sum_value")))

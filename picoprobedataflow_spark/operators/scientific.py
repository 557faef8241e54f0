"""Scientific kernels (reference pillar 2): hyperspectral cube
reductions and temporal-stack frame normalization.

Two forms of each. Over the long-form tables of :mod:`..io.emd`, the
reference's numpy axis-sums (``hs_image.sum(axis=2)`` /
``sum(axis=(0,1))``, tools/hyperspectral.py:96,104) are plain groupBy
aggregates and frame normalization (tools/temporal.py:21-35) is a
grouped min/max + the uint8 scale expression; the catalog oracle and
the tests run this form. The flows take the per-file sums that
:func:`..io.emd.reduce_cubes` computes in its kernel, and
:func:`image_from_sums` / :func:`spectrum_from_sums` project them onto
the same schemas. The YOLO inference stage of temporal.py is modeled
in :mod:`.multimodal` as a batched model UDF stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from picoprobedataflow_spark.functions.scalar import (
    energy_axis_kev,
    normalize_to_uint8,
)


#: Energy-axis calibration of the reference (hyperspectral.py:69-74).
X_OFFSET, X_INCREMENT = -479.0021, 5.0


def spectral_image(cube: DataFrame,
                   keys: tuple[str, ...] = ("path",)) -> DataFrame:
    """A12 — image = Σ over channel axis: one pixel row per (x, y)."""
    return (cube.groupBy(*keys, "x", "y")
                .agg(F.sum("counts").alias("intensity")))


def spectrum(cube: DataFrame, keys: tuple[str, ...] = ("path",),
             x_offset: float = X_OFFSET,
             x_increment: float = X_INCREMENT) -> DataFrame:
    """A13 + F11 — spectrum = Σ over spatial axes, with the calibrated
    energy axis attached (hyperspectral.py:69-74,104)."""
    return (cube.groupBy(*keys, "channel")
                .agg(F.sum("counts").alias("counts"))
                .withColumn("energy_kev",
                            energy_axis_kev(F.col("channel"),
                                            x_offset, x_increment)))


def image_from_sums(reduced: DataFrame) -> DataFrame:
    """A12 over :func:`..io.emd.reduce_cubes` rows: the per-file image
    array back to one pixel row per (path, x, y), in the
    :func:`spectral_image` schema."""
    return (reduced.select("path", "ny", F.posexplode("image"))
                   .select("path",
                           F.expr("CAST(pos div ny AS INT)").alias("x"),
                           (F.col("pos") % F.col("ny")).alias("y"),
                           F.col("col").alias("intensity")))


def spectrum_from_sums(reduced: DataFrame) -> DataFrame:
    """A13 + F11 over :func:`..io.emd.reduce_cubes` rows: one row per
    (path, channel), in the :func:`spectrum` schema."""
    return (reduced.select("path", F.posexplode("spectrum"))
                   .select("path", F.col("pos").alias("channel"),
                           F.col("col").alias("counts"),
                           energy_axis_kev(F.col("pos"), X_OFFSET,
                                           X_INCREMENT).alias("energy_kev")))


def normalize_frames(frames: DataFrame,
                     keys: tuple[str, ...] = ("path", "t")) -> DataFrame:
    """A14 + F10 — per-frame min/max normalization to uint8 px
    (temporal.py:21-35). Grouped bounds join back by broadcast (the
    bounds table is tiny: one row per frame)."""
    bounds = (frames.groupBy(*keys)
                    .agg(F.min("intensity").alias("lo"),
                         F.max("intensity").alias("hi")))
    joined = frames.join(F.broadcast(bounds), list(keys))
    return joined.select(
        *keys, "x", "y",
        normalize_to_uint8(F.col("intensity"),
                           F.col("lo"), F.col("hi")).alias("px"))


def synthetic_cube(spark, nx: int = 32, ny: int = 32, ns: int = 16) -> DataFrame:
    """Deterministic range-generated cube (both engines can reproduce
    it exactly — the oracle twin is DuckDB ``range``): counts follow a
    Weyl-sequence-ish integer recurrence so values are exact doubles."""
    n = nx * ny * ns
    df = spark.range(n)
    return df.select(
        F.expr(f"CAST(id % {nx} AS INT)").alias("x"),
        F.expr(f"CAST((id div {nx}) % {ny} AS INT)").alias("y"),
        F.expr(f"CAST(id div {nx * ny} AS INT)").alias("channel"),
        F.expr("((id * 2654435761) % 100000) / CAST(10 AS DOUBLE)").alias("counts"),
    )


def synthetic_frames(spark, nt: int = 8, nx: int = 16, ny: int = 16) -> DataFrame:
    n = nt * nx * ny
    df = spark.range(n)
    return df.select(
        F.expr(f"CAST(id div {nx * ny} AS INT)").alias("t"),
        F.expr(f"CAST((id div {ny}) % {nx} AS INT)").alias("x"),
        F.expr(f"CAST(id % {ny} AS INT)").alias("y"),
        F.expr("((id * 1103515245 + 12345) % 65536) / CAST(256 AS DOUBLE)").alias("intensity"),
    )

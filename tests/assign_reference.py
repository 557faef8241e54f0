"""Independent nearest-centroid reference for the assignment pins.

:func:`picoprobedataflow_spark.operators.similarity.assign_cells`
inlines the centroids as literals or runs an Arrow kernel. This
reference shares neither: it cross-joins the centroid table and takes
``min_by(cell, struct(distance, cell))`` per vector through a
shuffle. The distance is the same ascending-dim left fold of
``(x − c)²`` in double precision, and struct ordering gives the same
tie and NULL rules, so the cells must be equal row for row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sqdist(a, b):
    """Σ (aᵢ−bᵢ)² as an ascending-dim left fold in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def nearest_cell_reference(vecs: DataFrame, cent_rows,
                           vec_col: str = "_v",
                           id_col: str = "_id") -> DataFrame:
    """(_id, cell) for every row of ``vecs`` by broadcast crossJoin +
    ``min_by`` over the driver-side ``[(cell, centroid)]`` rows."""
    cents = vecs.sparkSession.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cent_rows],
        "cell int, centroid array<double>")
    d = sqdist(F.col(vec_col), F.col("centroid"))
    return (vecs.crossJoin(F.broadcast(cents))
                .withColumn("_d", d)
                .groupBy(F.col(id_col).alias("_id"))
                .agg(F.min_by("cell", F.struct("_d", "cell")).alias("cell")))


def cell_pairs(df: DataFrame, id_col: str = "_id", out_col: str = "cell"):
    """Sorted (id, cell) pairs of an assignment, for equality checks."""
    return sorted((r[0], r[1]) for r in df.select(id_col, out_col).collect())

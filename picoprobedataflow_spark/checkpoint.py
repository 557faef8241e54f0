"""The one materialization primitive: every eager stage boundary
(funnel stages, fixpoint rounds, build-once references) is an eager
``localCheckpoint`` made by :func:`materialize`, and any row count or
fixpoint sum the boundary needs is observed on the checkpoint's own
Spark job instead of costing one or two more (~45 ms each on
``local[N]``, whatever the data size).

Observe only exact integer aggregates (``count``, sums cast to
``long`` or ``decimal(38,0)``): their value does not depend on the
order Spark merges partitions in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def materialize(df: DataFrame, **observed: Column) -> tuple[DataFrame, dict]:
    """``(checkpointed df, {name: value})``: each ``observed``
    aggregate is filled by the checkpoint's job (``count`` observes 0
    on an empty frame, ``sum`` None)."""
    if observed:
        obs = Observation()
        df = df.observe(obs, *[c.alias(k) for k, c in observed.items()])
    return df.localCheckpoint(eager=True), obs.get if observed else {}

"""picoprobedataflow_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``ramanathanlab/PicoProbeDataFlow`` (the reference, a
file-triggered dataflow/ETL system for electron-microscope data plus a
pandas telemetry mini-warehouse) on top of Apache Spark:

- DataFrame/SQL for every relational operator (Catalyst picks the
  physical strategy; predicates/projections push down to Parquet).
- Structured Streaming for the file-watch ingest pipeline
  (reference: ``picoprobe/utils.py:80-131`` Watcher + CheckPoint).
- Arrow-batched ``pandas_udf`` / ``applyInPandas`` / ``mapInPandas``
  only for kernels the built-ins genuinely cannot express
  (HDF5 extraction, video encode, model inference).

Modules
-------
- :mod:`.session`    — SparkSession factory tuned for the target.
- :mod:`.io`         — sources/sinks (parquet tables, binary files, EMD).
- :mod:`.functions`  — scalar function layer (SURVEY.md §2.8 F1-F20).
- :mod:`.operators`  — relational + telemetry + data-pipeline operators.
- :mod:`.plans`      — the named query catalog exposed to the driver.
- :mod:`.streaming`  — structured-streaming ingest pipelines.
"""

__version__ = "0.1.0"

from picoprobedataflow_spark.session import get_spark  # noqa: F401


def ship_by_value(module_name: str) -> None:
    """Ship module ``module_name``'s code inside the serialized task
    instead of requiring ``picoprobedataflow_spark`` on every
    executor's PYTHONPATH — the Spark analog of the reference shipping
    its tool functions by serialization to funcX workers (hence the
    reference's body-level imports, temporal.py:12-19). Without this, a
    driver launched outside the repo dies in the Python worker with
    ModuleNotFoundError.

    The registry is PySpark's own ``pyspark.cloudpickle``, the one that
    pickles UDFs and ``mapInPandas`` kernels; a standalone
    ``cloudpickle`` install keeps a separate registry Spark never
    reads."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[module_name])

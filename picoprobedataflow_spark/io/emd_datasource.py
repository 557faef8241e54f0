"""Python DataSource for EMD files — ``spark.read.format("femd")``
sugar over the extraction kernel (SURVEY §4 custom piece (b): the
optional DataSource wrapper; Spark 4's Python DataSource API).

One input partition per file, so a directory of instrument files scans
with per-file parallelism; each partition parses its own bytes (no
shuffle). Register once per session:

    from picoprobedataflow_spark.io.emd_datasource import register
    register(spark)
    df = spark.read.format("femd").load("/data/run-2023-08-20")
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from picoprobedataflow_spark import ship_by_value

# Captured at module level (NOT imported inside read()): with both this
# module and io.emd registered for cloudpickle by-value shipping, the
# reference serializes into the task; a runtime import on the worker
# would instead demand the package on the executor PYTHONPATH.
from picoprobedataflow_spark.io.emd import SIGNAL_FIELDS, _parse

SIGNALS_SCHEMA = f"path string, {SIGNAL_FIELDS}"


class EmdDataSourceReader(DataSourceReader):
    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("femd source requires a path")
        self.glob = options.get("glob", "*.emd")

    def partitions(self):
        import glob as globlib
        import os

        pattern = os.path.join(self.root, "**", self.glob)
        files = sorted(globlib.glob(pattern, recursive=True))
        return [InputPartition(f) for f in files]

    def read(self, partition):
        if partition is None:  # API contract: empty partition list
            return
        path = partition.value
        with open(path, "rb") as f:
            content = f.read()
        for i, (title, arr, meta) in enumerate(_parse(content)):
            yield (path, i, title, arr.ndim, list(arr.shape), meta)


class EmdDataSource(DataSource):
    """``format("femd")`` — one row per signal per file."""

    @classmethod
    def name(cls) -> str:
        return "femd"

    def schema(self) -> str:
        return SIGNALS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return EmdDataSourceReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(EmdDataSource)


ship_by_value(__name__)

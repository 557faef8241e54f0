"""The two ingest flows (reference EP1+EP2) as single lazy DataFrame
programs.

Reference DAG (examples/hyperspectral_flow/main.py:28-33 and
examples/spatiotemporal_flow/main.py:29-34):

    Transfer → {Hyperspectral|Temporal}ImageTool
             → Publishv2(GatherMetadata + Ingest)

Spark mapping: the Transfer step is the binaryFile scan + checksum
manifest (the data is already where the executors are — Spark's
locality replaces Globus Transfer); the AnalysisTool is the EMD
extraction kernel + relational reductions; Publish is the DataCite doc
assembly + catalog append. One driver call materializes the whole DAG;
per-step timing lands in a telemetry table shaped like FIXTURES.md §2
so the analyzer queries run on it unchanged.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from picoprobedataflow_spark.io import binary_files as BF
from picoprobedataflow_spark.io import emd as EMD
from picoprobedataflow_spark.operators import scientific as SC
from picoprobedataflow_spark.session import prep


@dataclass
class FlowResult:
    """Materialized outputs of one flow run + its step-event telemetry
    (step_events rows shaped like FIXTURES.md §2: run_id, code,
    state_name, time)."""

    run_id: str
    manifest: DataFrame
    publish_docs: DataFrame
    analysis: dict[str, DataFrame]
    step_events: list[tuple[str, int, str, str, float]] = field(
        default_factory=list)

    def step_events_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.step_events,
            "run_id string, entry_index int, code string, "
            "state_name string, time double")


@contextmanager
def _step(rows: list, run_id: str, state_name: str):
    """Bracket one flow step with ActionStarted/ActionCompleted rows."""
    rows.append((run_id, len(rows), "ActionStarted", state_name,
                 time.time()))
    try:
        yield
    finally:
        rows.append((run_id, len(rows), "ActionCompleted", state_name,
                     time.time()))


def _run_flow(spark: SparkSession, input_dir: str, catalog_path: str | None,
              processed: DataFrame | None, run_id: str, tool: str,
              analyze: Callable[[DataFrame], dict[str, DataFrame]],
              exp_type: str) -> FlowResult:
    """Transfer → ``tool`` (``analyze`` over the new files) → Publishv2.

    Every frame the result hands out is an eager local checkpoint: a
    snapshot of this call's directory scan. A persisted frame would
    instead stay in the session's cache manager, which would serve it
    to a later flow whose plan matches — a second flow over the same
    directory would see this call's files, not the directory's."""
    prep(spark)  # AQE/UTC; avoids the default-200-partition shuffles
    rows: list[tuple[str, int, str, str, float]] = []
    step = partial(_step, rows, run_id)
    with step("Transfer"):
        manifest = BF.incremental_ingest(
            BF.scan_binary_dir(spark, input_dir, glob="*.emd"),
            processed).localCheckpoint(eager=True)
    files = BF.scan_binary_dir(spark, input_dir, glob="*.emd").join(
        manifest.select("path"), "path", "left_semi")

    with step(tool):
        analysis = analyze(files)

    with step("Publishv2GatherMetadata"):
        docs = (BF.publish_documents(files, exp_type=exp_type)
                .localCheckpoint(eager=True))

    with step("Publishv2Ingest"):
        if catalog_path is not None:
            BF.write_catalog(docs, catalog_path)

    return FlowResult(run_id=run_id, manifest=manifest, publish_docs=docs,
                      analysis=analysis, step_events=rows)


def _hyperspectral_tool(files: DataFrame) -> dict[str, DataFrame]:
    # The long-form cube feeds two reductions: cache it for their two
    # checkpoints only.
    cube = EMD.extract_cube_longform(files).persist(StorageLevel.MEMORY_ONLY)
    try:
        return {"image": SC.spectral_image(cube).localCheckpoint(eager=True),
                "spectrum": SC.spectrum(cube).localCheckpoint(eager=True),
                "signals": EMD.extract_signals(files)}
    finally:
        cube.unpersist()


def _temporal_tool(files: DataFrame) -> dict[str, DataFrame]:
    # (T, X, Y) stack: channel ≙ frame index t (time-major layout)
    frames = EMD.extract_cube_longform(files).select(
        "path", F.col("x").alias("t"), F.col("y").alias("x"),
        F.col("channel").alias("y"), F.col("counts").alias("intensity"))
    return {"frames_px": SC.normalize_frames(frames, keys=("path", "t"))
            .localCheckpoint(eager=True)}


def hyperspectral_flow(spark: SparkSession, input_dir: str,
                       catalog_path: str | None = None,
                       processed: DataFrame | None = None,
                       run_id: str = "hyper-run-0") -> FlowResult:
    """PicoProbeMetadataFlow twin: ingest .emd files, extract the 3-D
    signal, reduce to image + spectrum, publish."""
    return _run_flow(spark, input_dir, catalog_path, processed, run_id,
                     "HyperspectralImageTool", _hyperspectral_tool,
                     "hyperspectral_imaging")


def spatiotemporal_flow(spark: SparkSession, input_dir: str,
                        catalog_path: str | None = None,
                        processed: DataFrame | None = None,
                        run_id: str = "spatio-run-0") -> FlowResult:
    """PicoProbeTemporalImaging twin: ingest, per-frame normalize (the
    MP4-encode precursor, temporal.py:21-35), publish. The YOLO stage
    is the batched-inference stub in operators.multimodal."""
    return _run_flow(spark, input_dir, catalog_path, processed, run_id,
                     "TemporalImageTool", _temporal_tool,
                     "spatiotemporal_imaging")

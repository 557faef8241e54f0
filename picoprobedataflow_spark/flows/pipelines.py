"""The two ingest flows (reference EP1+EP2) as single lazy DataFrame
programs.

Reference DAG (examples/hyperspectral_flow/main.py:28-33 and
examples/spatiotemporal_flow/main.py:29-34):

    Transfer → {Hyperspectral|Temporal}ImageTool
             → Publishv2(GatherMetadata + Ingest)

Spark mapping: the Transfer step is the binaryFile scan + checksum
manifest (the data is already where the executors are — Spark's
locality replaces Globus Transfer); the AnalysisTool is one EMD kernel
that parses each file once and reduces it in numpy; Publish is the
DataCite doc assembly from the Transfer manifest + catalog append. One
driver call materializes the whole DAG; per-step timing lands in a
telemetry table shaped like FIXTURES.md §2 so the analyzer queries run
on it unchanged.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from picoprobedataflow_spark.checkpoint import materialize
from picoprobedataflow_spark.io import binary_files as BF
from picoprobedataflow_spark.io import emd as EMD
from picoprobedataflow_spark.operators import scientific as SC
from picoprobedataflow_spark.session import prep


@dataclass
class FlowResult:
    """Materialized outputs of one flow run + its step-event telemetry
    (step_events rows shaped like FIXTURES.md §2: run_id, code,
    state_name, time).

    Each step takes one eager local checkpoint, and every frame here
    is that checkpoint or a projection of it, so all of them are
    snapshots of the files as the flow read them: rewriting a file
    after the call changes none of them."""

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

    One eager local checkpoint per step (the Transfer manifest, the
    tool's kernel output, the publish documents), and every frame the
    result hands out is one of them or a projection of one: a snapshot
    of this call's directory scan. Each file is hashed once (Transfer;
    Publish reuses the manifest) and parsed once (the tool's kernel).
    A persisted frame would instead stay in the session's cache
    manager, which would serve it to a later flow whose plan matches —
    a second flow over the same directory would see this call's files,
    not the directory's."""
    prep(spark)  # AQE/UTC; avoids the default-200-partition shuffles
    rows: list[tuple[str, int, str, str, float]] = []
    step = partial(_step, rows, run_id)
    with step("Transfer"):
        manifest, _ = materialize(BF.incremental_ingest(
            BF.scan_binary_dir(spark, input_dir, glob="*.emd"),
            processed))
    files = BF.scan_binary_dir(spark, input_dir, glob="*.emd").join(
        manifest.select("path"), "path", "left_semi")

    with step(tool):
        analysis = analyze(files)

    with step("Publishv2GatherMetadata"):
        docs, _ = materialize(
            BF.manifest_documents(manifest, exp_type=exp_type))

    with step("Publishv2Ingest"):
        if catalog_path is not None:
            BF.write_catalog(docs, catalog_path)

    return FlowResult(run_id=run_id, manifest=manifest, publish_docs=docs,
                      analysis=analysis, step_events=rows)


def _hyperspectral_tool(files: DataFrame) -> dict[str, DataFrame]:
    # one row per file: image, spectrum and signal rows
    reduced, _ = materialize(EMD.reduce_cubes(files))
    return {"image": SC.image_from_sums(reduced),
            "spectrum": SC.spectrum_from_sums(reduced),
            "signals": EMD.reduced_signals(reduced)}


def _temporal_tool(files: DataFrame) -> dict[str, DataFrame]:
    # (T, X, Y) stacks, each frame normalized in the kernel
    return {"frames_px": materialize(EMD.normalize_stacks(files))[0]}


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

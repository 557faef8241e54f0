"""Every metric the benchmark reports: name -> (unit, better).
``BENCHMARK.json`` lists the same names; the self-test checks both
agree."""

from __future__ import annotations

import re

from probes import LAYERS

NAME = re.compile(r"[A-Za-z0-9_.-]+")

END_TO_END = {
    "op_p50_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}

#: event-log counters per layer group. GC time is reported for the
#: workload's own jobs only (spark.gc_s): on single probe calls it
#: mostly reads 0.
COUNTERS = (("jobs", "count"), ("tasks", "count"), ("run_s", "s"),
            ("cpu_s", "s"), ("shuffle_mb", "MB"))
#: layers whose calls never shuffle
NO_SHUFFLE = {("io.emd", "shuffle_mb"), ("streaming.watch", "shuffle_mb")}

_STEPS = ("Transfer", "HyperspectralImageTool", "TemporalImageTool",
          "Publishv2GatherMetadata", "Publishv2Ingest")

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "io.emd.extract_cube_s": ("s", "lower"),
    "io.emd.rows_out": ("rows", "lower"),
    "io.emd.rows_per_output_row": ("ratio", "lower"),
    "operators.scientific.reduce_s": ("s", "lower"),
    "operators.scientific.normalize_frames_s": ("s", "lower"),
    "io.binary_files.manifest_s": ("s", "lower"),
    "io.binary_files.bytes_hashed": ("bytes", "lower"),
    "io.binary_files.incremental_bytes_read_per_new_byte": ("ratio", "lower"),
    "io.binary_files.publish_s": ("s", "lower"),
    "flows.pipelines.hyperspectral_flow_s": ("s", "lower"),
    "flows.pipelines.hyperspectral_incremental_s": ("s", "lower"),
    "flows.pipelines.spatiotemporal_flow_s": ("s", "lower"),
    **{f"flows.pipelines.step.{s}_s": ("s", "lower") for s in _STEPS},
    "flows.pipelines.overhead_s": ("s", "lower"),
    "flows.analyzer.describe_runtimes_s": ("s", "lower"),
    "streaming.watch.batches": ("count", "lower"),
    "streaming.watch.files_per_batch_p50": ("files", "higher"),
    "streaming.watch.trigger_s_p50": ("s", "lower"),
    "streaming.watch.add_batch_s_p50": ("s", "lower"),
    "streaming.watch.list_s_p50": ("s", "lower"),
    "streaming.watch.wait_s_p50": ("s", "lower"),
    "streaming.watch.backlog_files_max": ("files", "lower"),
    "streaming.watch.generator_late_s_max": ("s", "lower"),
    "streaming.watch.latency_p50_s": ("s", "lower"),
    "streaming.watch.latency_p90_s": ("s", "lower"),
    "functions.text.quality_s": ("s", "lower"),
    "functions.text.repetition_s": ("s", "lower"),
    "operators.dedup.exact_s": ("s", "lower"),
    "operators.dedup.near_s": ("s", "lower"),
    "operators.dedup.decontam_s": ("s", "lower"),
    "operators.dedup.lsh_candidate_pairs": ("count", "lower"),
    "operators.dedup.lsh_pair_precision": ("ratio", "higher"),
    "functions.web.quota_s": ("s", "lower"),
    "operators.packing.budget_s": ("s", "lower"),
    **{f"{layer}.{k}": (u, "lower") for layer in LAYERS
       for k, u in COUNTERS if (layer, k) not in NO_SHUFFLE},
    "spark.driver_only_s": ("s", "lower"),
    "spark.outside_jvm_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

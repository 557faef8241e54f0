"""Layer probes for the traced run: timed calls into each module's
public functions over pre-materialized inputs, each output written to
a ``noop`` sink under a job group named after the layer, so Spark's
event log splits the work by layer.

Every traced run probes every layer. A workload's own inputs are used
where it has that kind of input; otherwise a small seeded side input
stands in, so each per-layer metric exists on every workload.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import inputs
from harness import clock, job_group, to_noop
from picoprobedataflow_spark.functions.text import (n_words, quality_score,
                                                    repetition_metrics)
from picoprobedataflow_spark.functions.web import domain_quota_sample
from picoprobedataflow_spark.io import binary_files as BF
from picoprobedataflow_spark.io import emd as EMD
from picoprobedataflow_spark.operators import scientific as SC
from picoprobedataflow_spark.operators.dedup import (contamination_overlap,
                                                     exact_dup_mapping,
                                                     minhash_lsh_dedup,
                                                     near_dup_survivors)
from picoprobedataflow_spark.operators.packing import select_token_budget

#: layer groups whose event-log counters are reported
LAYERS = ("io.emd", "operators.scientific", "io.binary_files",
          "flows.pipelines", "flows.analyzer", "streaming.watch",
          "functions.text", "operators.dedup", "functions.web",
          "operators.packing")

NEAR_THRESHOLD = 0.8


class Probes:
    def __init__(self, spark: SparkSession, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.out: dict[str, float] = {}

    def _timed(self, layer: str, name: str, fn) -> None:
        with job_group(self.spark, layer, True):
            t0 = clock()
            fn()
            self.out[f"{layer}.{name}_s"] = clock() - t0

    def _prep(self, df):
        """Materialize an input outside every layer group."""
        with job_group(self.spark, "probe.prep", True):
            df = df.persist(StorageLevel.MEMORY_ONLY)
            df.count()
        return df

    # -- EMD layers ------------------------------------------------------

    def emd(self, n_files: int, n_new: int, cube: tuple[int, int, int],
            stack: tuple[int, int, int]) -> None:
        spark = self.spark
        hs_dir = os.path.join(self.root, "probe-hs")
        st_dir = os.path.join(self.root, "probe-st")
        inputs.write_hyperspectral_drop(hs_dir, (self.seed, 10**6),
                                        n_files, cube)
        inputs.write_temporal_drop(st_dir, (self.seed, 10**6), 1, stack)
        files = self._prep(BF.scan_binary_dir(spark, hs_dir, glob="*.emd"))

        rows = Observation("cube_rows")
        self._timed("io.emd", "extract_cube", lambda: to_noop(
            EMD.extract_cube_longform(files).observe(
                rows, F.count(F.lit(1)).alias("n"))))
        cube_rows = rows.get["n"]

        long = self._prep(EMD.extract_cube_longform(files))
        img_n, spec_n = Observation("img"), Observation("spec")

        def reduce():
            to_noop(SC.spectral_image(long).observe(
                img_n, F.count(F.lit(1)).alias("n")))
            to_noop(SC.spectrum(long).observe(
                spec_n, F.count(F.lit(1)).alias("n")))
        self._timed("operators.scientific", "reduce", reduce)
        self.out["io.emd.rows_out"] = cube_rows
        self.out["io.emd.rows_per_output_row"] = cube_rows / (
            img_n.get["n"] + spec_n.get["n"])

        st_files = BF.scan_binary_dir(spark, st_dir, glob="*.emd")
        frames = self._prep(EMD.extract_cube_longform(st_files).select(
            "path", F.col("x").alias("t"), F.col("y").alias("x"),
            F.col("channel").alias("y"), F.col("counts").alias("intensity")))
        self._timed("operators.scientific", "normalize_frames",
                    lambda: to_noop(SC.normalize_frames(frames)))

        hashed = Observation("hashed")
        self._timed("io.binary_files", "manifest", lambda: to_noop(
            BF.file_manifest(files).observe(
                hashed, F.sum("length").alias("b"))))
        self.out["io.binary_files.bytes_hashed"] = hashed.get["b"]

        processed = self._prep(
            BF.file_manifest(files).select("path", "sha256"))
        new = inputs.write_hyperspectral_drop(hs_dir, (self.seed, 10**6),
                                              n_new, cube, start=n_files)
        self.new_bytes = sum(os.path.getsize(p) for p in new)
        with job_group(spark, "io.binary_files.incremental", True):
            to_noop(BF.incremental_ingest(
                BF.scan_binary_dir(spark, hs_dir, glob="*.emd"), processed))

        self._timed("io.binary_files", "publish", lambda: BF.write_catalog(
            BF.publish_documents(files), os.path.join(self.root,
                                                      "probe-catalog")))
        for df in (files, long, frames, processed):
            df.unpersist()

    # -- curation layers ---------------------------------------------------

    def curation(self, docs_path: str, bench_path: str, quota: int,
                 budget: int) -> None:
        spark = self.spark
        docs = self._prep(spark.read.parquet(docs_path))
        bench = self._prep(spark.read.parquet(bench_path))
        self._timed("functions.text", "quality", lambda: to_noop(
            docs.select("doc_id", quality_score("text").alias("q"))))
        self._timed("functions.text", "repetition",
                    lambda: to_noop(repetition_metrics(docs)))
        self._timed("operators.dedup", "exact",
                    lambda: to_noop(exact_dup_mapping(docs)))

        cand, near = Observation("cand"), Observation("near")

        def near_dedup():
            pairs = minhash_lsh_dedup(docs).observe(
                cand, F.count(F.lit(1)).alias("n"),
                F.sum((F.col("est_jaccard") >= NEAR_THRESHOLD).cast("int"))
                .alias("hit"))
            pairs = pairs.filter(F.col("est_jaccard") >= NEAR_THRESHOLD)
            to_noop(near_dup_survivors(docs, pairs).observe(
                near, F.count(F.lit(1)).alias("n")))
        self._timed("operators.dedup", "near", near_dedup)
        n_cand = cand.get["n"]
        self.out["operators.dedup.lsh_candidate_pairs"] = n_cand
        self.out["operators.dedup.lsh_pair_precision"] = (
            (cand.get["hit"] or 0) / n_cand if n_cand else 0.0)

        self._timed("operators.dedup", "decontam", lambda: to_noop(
            contamination_overlap(docs, bench, threshold=0.2)))
        qdocs = self._prep(docs.withColumn(
            "_q_ord", F.round(quality_score("text") * 1e6).cast("long")))
        self._timed("functions.web", "quota", lambda: to_noop(
            domain_quota_sample(qdocs, url_col="url", quota=quota,
                                order_col="_q_ord")))
        ranked = self._prep(docs.select(
            "*",
            F.round(quality_score("text") * 1e6).cast("long").alias("_qb"),
            n_words("text").cast("long").alias("_ntok")))
        self._timed("operators.packing", "budget", lambda: to_noop(
            select_token_budget(ranked, budget, order_col="_qb",
                                id_col="doc_id", tok_col="_ntok")))
        for df in (docs, bench, qdocs, ranked):
            df.unpersist()

"""Binary file ingest — the reference's Transfer + Publish pillar
re-expressed as Spark jobs.

Reference semantics reproduced:

- S1/S2/S6: recursive directory scan with extension filter
  (``examples/hyperspectral_flow/main.py:95-101`` created∧¬dir∧.emd)
  → ``spark.read.format("binaryFile")`` with ``pathGlobFilter``;
  columns path/modificationTime/length/content.
- S11: Transfer with ``sync_level=checksum`` → incremental ingest by
  left-anti join on (path, sha256) vs the processed log.
- S15/F18/F19: Publishv2 search document — DataCite-style ``dc`` block
  + ``files[]`` with url/length/sha256/sha512/filename/mime_type
  (shape observed in the reference's performance_*.pkl run records;
  assembled per ``examples/hyperspectral_flow/main.py:78-88``)
  → a partitioned parquet catalog table queryable with SQL.

Scale: the binaryFile source splits across executors; checksums are
computed where the bytes are read (no driver collect); the catalog is
partitioned by ingest date so publish-time queries prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from picoprobedataflow_spark.functions import scalar as S

#: binaryFile source column set (fixed by Spark).
BINARY_COLS = ("path", "modificationTime", "length", "content")


def scan_binary_dir(spark: SparkSession, directory: str,
                    glob: str = "*", recursive: bool = True) -> DataFrame:
    """S1 batch mode: scan a directory of opaque files."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .option("recursiveFileLookup", str(recursive).lower())
            .load(directory))


def file_manifest(files: DataFrame) -> DataFrame:
    """Per-file manifest row — the ``files[]`` element of the publish
    doc: url/filename/length/sha256/sha512/mime (F18/F19)."""
    return files.select(
        F.concat(F.lit("file://"), F.col("path")).alias("url"),
        S.path_name("path").alias("filename"),
        F.col("length"),
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.sha2(F.col("content"), 512).alias("sha512"),
        S.mime_type("path").alias("mime_type"),
        F.col("path"),
        F.col("modificationTime"),
    )


def publish_documents(files: DataFrame, dataset_col: F.Column | None = None,
                      exp_type: str = "hyperspectral_imaging",
                      publisher: str = "picoprobedataflow-spark") -> DataFrame:
    """S15: one DataCite-style publish document per dataset directory
    (the reference publishes one doc per timestamped dest dir,
    main.py:57-93), from a directory scan."""
    return manifest_documents(file_manifest(files), dataset_col,
                              exp_type, publisher)


def manifest_documents(manifest: DataFrame,
                       dataset_col: F.Column | None = None,
                       exp_type: str = "hyperspectral_imaging",
                       publisher: str = "picoprobedataflow-spark"
                       ) -> DataFrame:
    """S15 from a :func:`file_manifest` frame, so a flow publishes the
    checksums its Transfer step already took: ``files[]`` is an
    array<struct> aggregated from the per-file manifest; ``dc`` carries
    titles/dates/formats."""
    dataset = (dataset_col if dataset_col is not None
               else S.path_parent("path"))
    per_ds = (manifest
              .withColumn("dataset_id", dataset)
              .groupBy("dataset_id")
              .agg(F.collect_list(F.struct(
                       "url", "filename", "length",
                       "sha256", "sha512", "mime_type")).alias("files"),
                   F.sum("length").alias("total_bytes"),
                   F.count("*").alias("n_files"),
                   F.max("modificationTime").alias("modified")))
    dc = F.struct(
        F.array(F.struct(
            F.col("dataset_id").alias("title"))).alias("titles"),
        F.lit(publisher).alias("publisher"),
        F.date_format(F.col("modified"), "yyyy-MM-dd").alias("publicationDate"),
        F.array_distinct(F.transform(
            F.col("files"), lambda f: f.mime_type)).alias("formats"),
    )
    return per_ds.select(
        "dataset_id",
        dc.alias("dc"),
        F.lit(exp_type).alias("exp_type"),
        "files", "total_bytes", "n_files",
    )


def incremental_ingest(new_files: DataFrame, processed: DataFrame | None) -> DataFrame:
    """S3/S11: checksum-level incremental ingest — keep only files
    whose (path, sha256) is unseen. Batch-∖-state ≙ the reference's
    ``CheckPoint.seen`` + Transfer sync_level=checksum skip.

    The manifest (one content read and one hash per file) is evaluated
    once, as the anti join's left side. The processed log is cut down
    to the scanned paths by a broadcast semi join against
    ``new_files.select("path")`` — a path-only scan reads no file
    content — so the log is scanned map-side, never shuffled, and the
    ≤-scan-sized rest broadcasts into the anti join."""
    manifest = file_manifest(new_files)
    if processed is None:
        return manifest
    seen = (processed.select("path", "sha256")
            .join(F.broadcast(new_files.select("path")), "path",
                  "left_semi"))
    return manifest.join(F.broadcast(seen), ["path", "sha256"],
                         "left_anti")


def write_catalog(docs: DataFrame, path: str, mode: str = "append") -> None:
    """Publish sink: partitioned parquet catalog table (the engine's
    'search index'); dedup-on-read via the latest doc per dataset_id."""
    (docs.withColumn("ingest_date", F.current_date())
         .write.mode(mode).partitionBy("ingest_date").parquet(path))


def search_catalog(spark: SparkSession, path: str,
                   text_like: str | None = None) -> DataFrame:
    """Query the publish catalog — Globus-Search-style lookup becomes
    plain SQL over the parquet table (partition-pruned by date)."""
    df = spark.read.parquet(path)
    if text_like:
        df = df.filter(F.col("dataset_id").contains(text_like)
                       | F.exists("files",
                                  lambda f: f.filename.contains(text_like)))
    return df

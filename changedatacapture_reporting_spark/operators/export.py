"""Deterministic sharded export of a training corpus + manifest — the
last mile of the pipeline: a prepared corpus leaves Spark as N stable
shards that a training job's data loader can map to workers.

Why not just ``df.write.parquet(path)``? Because training-data loaders
need three properties plain output files don't give:

- **stable assignment**: which shard a document lands in must be a pure
  function of the document key — independent of partitioning, executor
  count, or insertion order — so incremental re-exports and cross-run
  comparisons keep documents in place. We derive the shard from md5(key)
  (same construction as operators.sampling: hex prefix → int), which is
  engine-portable and avoids the correlation traps of ``key % N``
  (monotonically-assigned ids stripe by source).
- **per-shard accounting**: the loader wants to know shard sizes
  (documents / tokens / bytes) without scanning — the manifest.
- **a commit point**: the manifest is written LAST, under ``_manifest``
  (underscore-prefixed ⇒ invisible to Spark/Hive directory readers), so
  its presence marks a complete export — a crashed export leaves data
  files but no manifest, and the re-run overwrites cleanly.

Scale posture: assignment is one expression (no shuffle); the write
repartitions by shard so each shard's rows are produced by a bounded set
of tasks (a shard may still span multiple files — desirable at 100 TB;
the manifest counts files, not assumes one). The stats aggregation is a
single map-side-combined groupBy on the shard id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.functions.text import tokens

from changedatacapture_reporting_spark import fs
from changedatacapture_reporting_spark.sources.delta_table import _local_frame


def shard_assignment(key: Column, n_shards: int) -> Column:
    """Deterministic shard id in [0, n_shards) from an arbitrary key:
    first 8 hex chars of md5(key) → int → mod. Stable across engines,
    partitionings, and runs (no seed, no RNG)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % n_shards
    )


def shard_stats(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The manifest aggregation, standalone: per-shard document / token /
    byte totals. One hash aggregate on the (computed) shard id."""
    return (
        df.select(
            shard_assignment(F.col(id_col), n_shards).alias("shard"),
            F.size(tokens(text_col)).cast("long").alias("_t"),
            F.octet_length(text_col).cast("long").alias("_b"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_t").alias("n_tokens"),
            F.sum("_b").alias("n_bytes"),
        )
    )


def shard_file_counts(spark: SparkSession, path: str) -> DataFrame:
    """(shard, n_files) per ``shard=K`` directory under ``path``, counted
    from what actually landed (crash evidence would show up here as a
    missing manifest, not a wrong one) — via fs.* so scheme-qualified
    sinks (s3a://, hdfs://) work, not just the local filesystem. A
    local relation, so joining it runs no Python worker."""
    files = []
    for entry in fs.listdir(spark, path):
        if not entry.startswith("shard="):
            continue
        k = int(entry.split("=", 1)[1])
        n = sum(
            1
            for f in fs.listdir(spark, fs.join(path, entry))
            if f.endswith(".parquet") or f.endswith(".json")
        )
        files.append((k, n))
    return _local_frame(spark, files, "shard long, n_files long")


def export_shards(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    data_format: str = "parquet",
) -> DataFrame:
    """Write ``df`` as ``path/shard=K/…`` plus a manifest, and return
    the manifest DataFrame (shard, n_docs, n_tokens, n_bytes, n_files).
    Manifest-last write order gives a single commit point (the manifest
    itself is always parquet).

    ``data_format``: ``parquet`` (default) or ``json`` — Spark's json
    writer emits JSON LINES, the lingua franca of training-corpus
    interchange (one document object per line; loaders stream it
    without a columnar reader). Same stable md5 shard assignment, same
    manifest, same commit point either way; prefer parquet when the
    consumer can read it (columnar pruning + compression), jsonl when
    the corpus leaves the lakehouse."""
    if data_format not in ("parquet", "json"):
        raise ValueError(f"unsupported data_format: {data_format!r}")
    data = df.withColumn(
        "shard", shard_assignment(F.col(id_col), n_shards)
    ).repartition(n_shards, "shard")
    data.write.mode("overwrite").partitionBy("shard").format(
        data_format
    ).save(path)

    if not any(
        e.startswith("shard=") for e in fs.listdir(spark, path)
    ):
        # an EMPTY corpus (everything filtered/deduped away) must still
        # leave a readable export: the partitioned write above lands
        # zero data files, so place one schema-bearing empty part file
        # under shard=0 — a 1-partition empty frame always writes one
        # file, and partition discovery restores the shard column
        (
            data.drop("shard")
            .limit(0)
            .repartition(1)
            .write.mode("overwrite")
            .format(data_format)
            .save(fs.join(path, "shard=0"))
        )

    manifest = shard_stats(df, n_shards, id_col, text_col).join(
        shard_file_counts(spark, path), "shard", "left"
    )
    manifest_path = fs.join(path, "_manifest")
    manifest.repartition(1).write.mode("overwrite").parquet(manifest_path)
    return spark.read.parquet(manifest_path)

"""operators.export — deterministic sharded corpus export + manifest."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from changedatacapture_reporting_spark.operators.export import (
    export_shards,
    shard_assignment,
    shard_stats,
)
from changedatacapture_reporting_spark.sources.tables import load_table


def _expected_shard(key, n) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % n


def test_shard_assignment_matches_reference_md5(spark):
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r.shard
        for r in df.select(
            "doc_id", shard_assignment(F.col("doc_id"), 16).alias("shard")
        ).collect()
    }
    for k, s in got.items():
        assert s == _expected_shard(k, 16)
    # all shards used, roughly balanced (md5 dispersion)
    from collections import Counter

    sizes = Counter(got.values())
    assert len(sizes) == 16
    assert max(sizes.values()) < 3 * min(sizes.values())


def test_shard_assignment_stable_under_repartition(spark):
    df = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = df.select("doc_id", shard_assignment(F.col("doc_id"), 8).alias("s"))
    b = df.repartition(17).select(
        "doc_id", shard_assignment(F.col("doc_id"), 8).alias("s")
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_export_shards_roundtrip_and_manifest(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "shards")
    manifest = export_shards(spark, docs, path, n_shards=8)

    m = {r.shard: r for r in manifest.collect()}
    assert sum(r.n_docs for r in m.values()) == docs.count()
    assert all(r.n_files >= 1 for r in m.values())

    # shard directories contain exactly the documents the pure function
    # assigns to them, and nothing is lost or duplicated
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    mismatch = back.filter(
        F.col("shard") != shard_assignment(F.col("doc_id"), 8)
    ).count()
    assert mismatch == 0

    # manifest stats agree with a direct recount per shard
    direct = {r.shard: r for r in shard_stats(docs, 8).collect()}
    for k, r in m.items():
        assert (r.n_docs, r.n_tokens, r.n_bytes) == (
            direct[k].n_docs,
            direct[k].n_tokens,
            direct[k].n_bytes,
        )

    # manifest presence is the commit marker
    assert os.path.isdir(os.path.join(path, "_manifest"))


def test_shard_file_counts_is_a_local_relation(spark, tmp_path):
    """The manifest's per-shard file counts join as a local relation:
    no Python RDD scan in the plan, so no Python-worker job."""
    from changedatacapture_reporting_spark.operators.export import (
        shard_file_counts,
    )

    path = str(tmp_path / "shards")
    for k, n in ((0, 2), (3, 1)):
        spark.range(n).repartition(n).write.parquet(f"{path}/shard={k}")
    counts = shard_file_counts(spark, path)
    assert sorted(tuple(r) for r in counts.collect()) == [(0, 2), (3, 1)]
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_export_shards_jsonl(spark, sf_dir, tmp_path):
    """json format: identical assignment + manifest; data reads back as
    JSON LINES with the same rows."""
    from changedatacapture_reporting_spark.operators.export import (
        export_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    path = str(tmp_path / "jsonl_export")
    manifest = export_shards(
        spark, docs, path, n_shards=4, data_format="json"
    )
    m = {r.shard: r.n_docs for r in manifest.collect()}
    assert sum(m.values()) == docs.count()

    back = spark.read.json(path)
    assert back.count() == docs.count()
    a = {(r.doc_id, r.text, r.lang) for r in docs.collect()}
    b = {(r.doc_id, r.text, r.lang) for r in back.select("doc_id", "text", "lang").collect()}
    assert a == b

    # raw files are one JSON object per line
    import glob
    import json as _json

    f = sorted(glob.glob(f"{path}/shard=*/*.json"))[0]
    with open(f) as fh:
        first = fh.readline().strip()
    assert _json.loads(first)["doc_id"] is not None

    import pytest

    with pytest.raises(ValueError):
        export_shards(spark, docs, path, 4, data_format="csvx")

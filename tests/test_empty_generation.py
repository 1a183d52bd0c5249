"""Zero-file-generation audit (VERDICT r11 task 2): every writer that
replaces a table generation must leave a READABLE target when the
replacement is EMPTY — "all rows deleted" is a legal state (full-table
GDPR purge, truncate-and-reload), not a curiosity.

Two write shapes exist, with different physics:

- non-partitioned writes of an empty frame land ONE schema-bearing
  parquet/json part file (Spark's empty-task special case), so plain
  reads survive — the purge's per-partition rewrites and the compactor
  are safe BY SHAPE, pinned here;
- ``partitionBy`` writes of an empty frame land ZERO files — the
  serving snapshot (fixed via the schema-pinned meta, tests in
  test_serving.py), the sharded exporter (fixed via a staged empty
  shard) and the Delta writer (immune by design: the schema rides in
  the log's metaData action; the streaming apply and aggregate targets
  commit through it) are each proven here or in their own suites.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark import fs

SRC = T.StructType(
    [T.StructField("id", T.IntegerType()), T.StructField("v", T.StringType())]
)
SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("commit_ts", T.TimestampType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("before", SRC, True),
        T.StructField("after", SRC, True),
    ]
)


def _ev(lsn, table, rid, month, op="insert"):
    t = dt.datetime(2024, month, 1, 9, 0, 0)
    row = (rid, f"v{rid}")
    if op == "insert":
        return (lsn, 0, t, "insert", table, None, row)
    return (lsn, 0, t, "delete", table, row, None)


def test_full_purge_leaves_sink_readable(spark, tmp_path):
    """purge_keys_from_sink with EVERY key in the sink: the staged
    per-partition rewrites are empty, the sink must read back as 0 rows,
    the rollup must agree, and a subsequent populate must append."""
    from changedatacapture_reporting_spark.operators.forget import (
        purge_keys_from_sink,
    )
    from changedatacapture_reporting_spark.operators.populate import (
        populate_changelog,
    )
    from changedatacapture_reporting_spark.operators.rollup import read_rollup

    sink = str(tmp_path / "sink")
    ev = [_ev(1, "a", 7, 1), _ev(2, "a", 8, 2), _ev(3, "b", 9, 1)]
    populate_changelog(spark, spark.createDataFrame(ev, SCHEMA), sink, ["id"])

    keys = spark.createDataFrame([(7,), (8,), (9,)], "id int")
    res = purge_keys_from_sink(spark, sink, keys, ["id"])
    assert res["rows_purged"] == 3
    assert res["partitions_touched"] == 3

    # the emptied sink is still a functioning table
    assert spark.read.parquet(sink).count() == 0
    assert (
        read_rollup(spark, sink).agg(F.sum("n_changes")).head()[0] or 0
    ) == 0

    # …and still accepts the next batch (watermark untouched by purge)
    more = [_ev(10, "a", 11, 3)]
    res2 = populate_changelog(
        spark, spark.createDataFrame(more, SCHEMA), sink, ["id"]
    )
    assert res2.rows_changed == 1
    assert spark.read.parquet(sink).filter(F.col("id") == 11).count() == 1


@pytest.mark.soak  # randomized/exhaustive sweep - pre-commit gate only
def test_compaction_of_all_empty_files_survives(spark, tmp_path):
    """compact_sink_files over a partition whose files are ALL empty
    (the post-full-purge residue): the staged rewrite is empty but
    schema-bearing; the sink stays readable and counts agree."""
    from changedatacapture_reporting_spark.operators.forget import (
        purge_keys_from_sink,
    )
    from changedatacapture_reporting_spark.operators.maintenance import (
        compact_sink_files,
    )
    from changedatacapture_reporting_spark.operators.populate import (
        populate_changelog,
    )

    sink = str(tmp_path / "sink")
    # five batches into the same partition → five files; purge each key
    # SEPARATELY so every file is rewritten to an empty one (a single
    # purge would consolidate the partition to one file)
    for i in range(5):
        populate_changelog(
            spark,
            spark.createDataFrame([_ev(i + 1, "a", 100 + i, 1)], SCHEMA),
            sink,
            ["id"],
        )
    for i in range(5):
        purge_keys_from_sink(
            spark,
            sink,
            spark.createDataFrame([(100 + i,)], "id int"),
            ["id"],
        )
    part = fs.join(sink, "table_name=a", "commit_month=2024-01-01")
    assert len(fs.list_data_files(spark, part)) == 5  # all empty

    res = compact_sink_files(spark, sink, ["id"], max_files=1)
    assert res["partitions_compacted"] == 1
    assert spark.read.parquet(sink).count() == 0


def test_stream_apply_to_empty_state_stays_readable(spark, tmp_path):
    """A micro-batch that deletes every live row: its MERGE leaves the
    Delta target with no live rows (the schema rides in the log) —
    reads give 0 rows and the next batch applies normally."""
    from changedatacapture_reporting_spark.schema import cdc_event_schema
    from changedatacapture_reporting_spark.streaming.apply_stream import (
        read_current_state,
        stream_apply,
    )

    src = SRC
    schema = cdc_event_schema(src)
    ts = dt.datetime(2024, 2, 1, 9, 0, 0)
    ev_path = str(tmp_path / "events")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    pk, vals = ["id"], ["v"]

    def drain():
        q = stream_apply(spark, ev_path, schema, target, ckpt, pk, vals)
        q.awaitTermination(120)

    def state():
        return {
            r.id: r.v
            for r in read_current_state(
                spark, target, pk, vals, src
            ).collect()
        }

    b1 = [(1, 0, ts, "insert", "t", None, (1, "a")),
          (2, 0, ts, "insert", "t", None, (2, "b"))]
    spark.createDataFrame(b1, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert state() == {1: "a", 2: "b"}

    b2 = [(3, 0, ts, "delete", "t", (1, "a"), None),
          (4, 0, ts, "delete", "t", (2, "b"), None)]
    spark.createDataFrame(b2, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert state() == {}

    b3 = [(5, 0, ts, "insert", "t", None, (9, "z"))]
    spark.createDataFrame(b3, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert state() == {9: "z"}


def test_stream_maintain_aggregate_to_zero_groups(spark, tmp_path):
    """All groups vanish (counts fold to zero): the maintained table's
    new Delta version is empty but readable (the schema rides in the
    log), and the next batch re-creates groups from the empty frame."""
    from changedatacapture_reporting_spark.schema import cdc_event_schema
    from changedatacapture_reporting_spark.streaming.apply_stream import (
        read_aggregate,
        stream_maintain_aggregate,
    )

    src = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField("amt", T.LongType()),
        ]
    )
    schema = cdc_event_schema(src)
    ts = dt.datetime(2024, 2, 1, 9, 0, 0)
    ev_path = str(tmp_path / "events")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    group_cols, sum_cols = ["grp"], {"total": "amt"}

    def drain():
        q = stream_maintain_aggregate(
            spark, ev_path, schema, target, ckpt, group_cols, sum_cols
        )
        q.awaitTermination(120)

    def agg():
        return {
            r.grp: (r.n_rows, r.total)
            for r in read_aggregate(
                spark, target, group_cols, sum_cols, src
            ).collect()
        }

    b1 = [(1, 0, ts, "insert", "t", None, (1, "g1", 5)),
          (2, 0, ts, "insert", "t", None, (2, "g1", 7))]
    spark.createDataFrame(b1, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert agg() == {"g1": (2, 12)}

    b2 = [(3, 0, ts, "delete", "t", (1, "g1", 5), None),
          (4, 0, ts, "delete", "t", (2, "g1", 7), None)]
    spark.createDataFrame(b2, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert agg() == {}

    b3 = [(5, 0, ts, "insert", "t", None, (3, "g2", 1))]
    spark.createDataFrame(b3, schema).repartition(1).write.mode(
        "append"
    ).parquet(ev_path)
    drain()
    assert agg() == {"g2": (1, 1)}


@pytest.mark.parametrize("data_format", ["parquet", "json"])
def test_export_empty_corpus_is_readable(spark, tmp_path, data_format):
    """export_shards of an EMPTY corpus: the partitioned write lands
    zero files, so the exporter stages one schema-bearing empty part
    under shard=0 — the export root must read back as a 0-row typed
    frame (parquet) / list a data file (json), the manifest must exist,
    and a later NON-empty export into the same path must overwrite
    cleanly."""
    from changedatacapture_reporting_spark.operators.export import (
        export_shards,
    )

    path = str(tmp_path / "export")
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "more text")], "doc_id long, text string"
    )
    empty = docs.filter("doc_id < 0")

    manifest = export_shards(
        spark, empty, path, n_shards=4, data_format=data_format
    )
    assert manifest.count() == 0
    shard_dirs = [
        e for e in fs.listdir(spark, path) if e.startswith("shard=")
    ]
    assert shard_dirs == ["shard=0"]
    if data_format == "parquet":
        got = spark.read.parquet(path)
        assert got.count() == 0
        assert set(got.columns) == {"doc_id", "text", "shard"}
    else:
        assert fs.listdir(spark, fs.join(path, "shard=0"))

    # a real export into the same path replaces the placeholder
    manifest2 = export_shards(
        spark, docs, path, n_shards=4, data_format=data_format
    )
    assert manifest2.agg(F.sum("n_docs")).head()[0] == 2


def test_delta_write_merge_to_empty_table(spark, tmp_path):
    """Delta is immune by design (schema in the log's metaData action),
    but pin it: an overwrite with an empty frame and a MERGE that
    deletes every row must both leave a readable, appendable table."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        merge_delta,
        read_delta,
        write_delta,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "id long, v string, p string"
    )
    write_delta(spark, df, path, mode="overwrite", partition_by=["p"])
    assert read_delta(spark, path).count() == 2

    # MERGE that deletes every row
    deletes = df.select("id", "v", "p").withColumn("__del", F.lit(True))
    merge_delta(spark, deletes, path, ["id"], delete_col="__del")
    got = read_delta(spark, path)
    assert got.count() == 0
    assert set(got.columns) == {"id", "v", "p"}

    # still appendable, and time travel to the pre-delete version works
    write_delta(
        spark,
        spark.createDataFrame([(3, "c", "p1")], "id long, v string, p string"),
        path,
        mode="append",
        partition_by=["p"],
    )
    assert read_delta(spark, path).count() == 1
    assert read_delta(spark, path, version=0).count() == 2


def test_delta_overwrite_with_empty_frame(spark, tmp_path):
    """Atomic replace with an empty generation (truncate): zero adds,
    all removes — readable, appendable."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        read_delta,
        write_delta,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_delta(spark, df, path, mode="overwrite")
    write_delta(spark, df.filter("id < 0"), path, mode="overwrite")
    got = read_delta(spark, path)
    assert got.count() == 0
    write_delta(spark, df.filter("id = 1"), path, mode="append")
    assert read_delta(spark, path).count() == 1

"""Sink commit protocol: staged writes, single commit point, crash
recovery, exactly-once streaming epochs, salt-bucket skew fan-out
(ADVICE r01 items 1–3, VERDICT r01 item 7)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark import fs
from changedatacapture_reporting_spark.operators.changelog import build_changelog
from changedatacapture_reporting_spark.operators.populate import (
    STAGING_ROOT,
    commit_batch,
    populate_changelog,
    recover_sink,
)
from changedatacapture_reporting_spark.operators.rollup import read_rollup

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


def _ev(lsn, table, minute, vid=1):
    return (
        lsn, 0, dt.datetime(2024, 1, 1, 12, minute), "insert", table,
        None, (vid, f"v{lsn}"),
    )


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _changelog(events, month=True):
    log = build_changelog(events, ["id"], carry_cols=["lsn", "seq"])
    return log.withColumn("commit_month", F.trunc("commit_time", "month"))


def test_fs_join_is_uri_safe():
    assert fs.join("s3a://bucket/key/", "x", "y") == "s3a://bucket/key/x/y"
    assert fs.join("/local/path", "_watermarks") == "/local/path/_watermarks"
    assert fs.join("hdfs://nn:8020/a/", "/b/") == "hdfs://nn:8020/a/b"


def test_crash_before_commit_discards_staging(spark, tmp_path):
    """Stage only (no sidecar row) = crash before the commit point: the
    next populate discards the debris and re-ingests the same events —
    no loss, no duplicates."""
    sink = str(tmp_path / "sink")
    events = _events(spark, [_ev(1, "t", 0), _ev(2, "t", 1)])
    # simulate the pre-commit crash: data staged, sidecar never written
    _changelog(events).write.mode("overwrite").partitionBy(
        "table_name", "commit_month"
    ).parquet(fs.join(sink, STAGING_ROOT, "deadbeef", "data"))

    r = populate_changelog(spark, events, sink, ["id"])
    assert r.rows_changed == 2
    assert fs.listdir(spark, fs.join(sink, STAGING_ROOT)) == []
    assert spark.read.parquet(sink).count() == 2  # once, not twice


def test_crash_after_commit_is_published_by_recovery(spark, tmp_path):
    """Sidecar row present but files still staged = crash between commit
    and publish: recovery must finish the move, and a second recovery
    must be a no-op."""
    sink = str(tmp_path / "sink")
    base = _events(spark, [_ev(1, "t", 0)])
    assert populate_changelog(spark, base, sink, ["id"]).rows_changed == 1

    # hand-build the post-commit crash state for a second batch
    events2 = _events(spark, [_ev(2, "t", 5), _ev(3, "u", 6)])
    log2 = _changelog(events2)
    log2.write.mode("overwrite").partitionBy("table_name", "commit_month").parquet(
        fs.join(sink, STAGING_ROOT, "run2", "data")
    )
    spark.createDataFrame(
        [("t", 2, "run2"), ("u", 3, "run2")],
        "table_name string, lsn long, run_id string",
    ).repartition(1).write.mode("append").parquet(fs.join(sink, "_watermarks"))

    got = recover_sink(spark, sink)
    assert got == {"published": 1, "discarded": 0}
    assert spark.read.parquet(sink).count() == 3
    assert recover_sink(spark, sink) == {"published": 0, "discarded": 0}

    # watermark advanced with the published batch: replaying the same
    # events loads nothing
    r = populate_changelog(spark, events2, sink, ["id"])
    assert r.rows_changed == 0


def test_rollup_advances_atomically_with_data(spark, tmp_path):
    """Rollup partials ride the same staged commit as the data, so the
    maintained aggregate can't diverge from the changelog."""
    sink = str(tmp_path / "sink")
    events = _events(spark, [_ev(1, "t", 0), _ev(2, "t", 1), _ev(3, "u", 2)])
    populate_changelog(spark, events, sink, ["id"])
    roll = {r.table_name: r.n_changes for r in read_rollup(spark, sink).collect()}
    live = {
        r.table_name: r.n
        for r in spark.read.parquet(sink)
        .groupBy("table_name")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert roll == live


def test_streaming_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed epoch (the foreachBatch at-least-once case)
    must not duplicate rows: the sink's own ledger detects it."""
    from changedatacapture_reporting_spark.operators.populate import (
        _committed_run_ids,
    )
    from changedatacapture_reporting_spark.streaming.populate_stream import (
        epoch_run_id,
    )
    from pyspark import StorageLevel

    sink = str(tmp_path / "sink")
    events = _events(spark, [_ev(1, "t", 0), _ev(2, "t", 1)])
    log = _changelog(events)
    log.persist(StorageLevel.MEMORY_AND_DISK)
    run_id = epoch_run_id(7)

    # what stream_populate's write_batch does, twice for the same epoch
    for _ in range(2):
        if run_id in _committed_run_ids(spark, sink):
            recover_sink(spark, sink)
            continue
        recover_sink(spark, sink)
        commit_batch(spark, log, sink, ["id"], run_id=run_id)
    log.unpersist()

    assert spark.read.parquet(sink).count() == 2  # not 4


def test_salt_buckets_fan_out_hot_partition(spark, tmp_path):
    """A batch where one table dominates one month must still write that
    partition as multiple files when salted (the hot-partition fan-out;
    unsalted it would be a single task / single file)."""
    hot = [_ev(i, "hot", i % 60, vid=i) for i in range(1, 181)]  # 90%+
    cold = [_ev(1000 + i, "cold", i, vid=i) for i in range(1, 11)]
    events = _events(spark, hot + cold)
    sink = str(tmp_path / "sink")
    r = populate_changelog(spark, events, sink, ["id"], salt_buckets=8)
    assert r.rows_changed == 190

    hot_files = [
        f
        for f in fs.list_data_files(spark, sink)
        if f.startswith("table_name=hot/")
    ]
    # hash fan-out is statistical (salt values can collide in the
    # shuffle map), but the hot partition must genuinely parallelize
    assert 4 <= len(hot_files) <= 8
    # all rows still land correctly
    assert spark.read.parquet(sink).filter(F.col("table_name") == "hot").count() == 180


def _populate_months(spark, sink, n_batches=5):
    """Several small batches into one month (fragmenting it) plus one
    batch in a second month."""
    for b in range(n_batches):
        rows = [_ev(b * 10 + i, "t", b, vid=i) for i in range(1, 4)]
        populate_changelog(spark, _events(spark, rows), sink, ["id"])
    feb = [
        (100 + i, 0, dt.datetime(2024, 2, 1, 12, i), "insert", "t",
         None, (i, f"v{i}"))
        for i in range(1, 4)
    ]
    populate_changelog(spark, _events(spark, feb), sink, ["id"])


def test_compaction_merges_files_preserving_content(spark, tmp_path):
    from changedatacapture_reporting_spark.operators.maintenance import (
        compact_sink_files,
    )

    sink = str(tmp_path / "sink")
    _populate_months(spark, sink)
    before = {
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("lsn", "pk_json", "column_name", "new_value")
        .collect()
    }
    jan = "table_name=t/commit_month=2024-01-01"
    assert len([f for f in fs.list_data_files(spark, sink) if f.startswith(jan)]) == 5

    got = compact_sink_files(spark, sink, ["id"], max_files=4)
    assert got["partitions_compacted"] == 1  # feb (1 file) left alone
    assert got["files_after"] == 1

    after = {
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("lsn", "pk_json", "column_name", "new_value")
        .collect()
    }
    assert after == before
    assert fs.listdir(spark, fs.join(sink, STAGING_ROOT)) == []
    # idempotent: nothing left over threshold
    assert compact_sink_files(spark, sink, ["id"], max_files=4) == {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }


def test_compaction_crash_before_marker_discards(spark, tmp_path):
    """Staged compaction without its marker = pre-commit crash: recovery
    discards it and the sink keeps its original files."""
    sink = str(tmp_path / "sink")
    _populate_months(spark, sink, n_batches=3)
    files0 = fs.list_data_files(spark, sink)

    jan = fs.join(sink, "table_name=t/commit_month=2024-01-01")
    staged = fs.join(sink, STAGING_ROOT, "compact-dead", "data",
                     "table_name=t/commit_month=2024-01-01")
    spark.read.parquet(jan).repartition(1).write.mode("overwrite").parquet(staged)

    assert recover_sink(spark, sink) == {"published": 0, "discarded": 1}
    assert fs.list_data_files(spark, sink) == files0


def test_compaction_crash_after_marker_is_completed(spark, tmp_path):
    """Marker present (commit happened) but swap not finished — even with
    the staged file ALREADY moved in, recovery completes the swap: the
    manifest names the old generation, so new files are never deleted
    and re-running every step is idempotent."""
    from changedatacapture_reporting_spark.operators.populate import (
        REPLACE_MARKER,
    )

    sink = str(tmp_path / "sink")
    _populate_months(spark, sink, n_batches=3)
    jan_rel = "table_name=t/commit_month=2024-01-01"
    jan = fs.join(sink, jan_rel)
    old_names = fs.list_data_files(spark, jan)
    before = {
        tuple(r)
        for r in spark.read.parquet(jan).select("lsn", "pk_json").collect()
    }

    staging = fs.join(sink, STAGING_ROOT, "compact-crash")
    staged_part = fs.join(staging, "data", jan_rel)
    spark.read.parquet(jan).repartition(1).write.mode("overwrite").parquet(staged_part)
    # the commit marker carries the OLD generation (what the rewrite read)
    fs.write_text(
        spark,
        fs.join(staging, REPLACE_MARKER),
        "\n".join(f"{jan_rel}/{n}" for n in old_names),
    )

    # simulate the worst crash point: the staged file ALREADY moved in,
    # old files not yet deleted, staging still present
    fs.promote(spark, fs.join(staging, "data"), sink)
    assert recover_sink(spark, sink) == {"published": 1, "discarded": 0}

    jan_files = [
        f for f in fs.list_data_files(spark, sink) if f.startswith(jan_rel)
    ]
    assert len(jan_files) == 1  # old generation gone, new one intact
    after = {
        tuple(r)
        for r in spark.read.parquet(jan).select("lsn", "pk_json").collect()
    }
    assert after == before


def test_compaction_swap_spares_concurrent_append(spark, tmp_path):
    """A file appended to a partition AFTER compaction staged its
    snapshot must survive the swap — the manifest-scoped delete never
    touches files outside the old generation."""
    from changedatacapture_reporting_spark.operators.maintenance import (
        compact_sink_files,
    )
    from changedatacapture_reporting_spark.operators import populate as P

    sink = str(tmp_path / "sink")
    _populate_months(spark, sink, n_batches=5)
    jan_rel = "table_name=t/commit_month=2024-01-01"

    # interleave: between the commit marker and the swap, a populate
    # commit appends one more file into the partition being compacted
    # (commit_batch, not populate_changelog — the latter would first
    # recover-publish the pending compaction itself)
    orig = P._publish_replace

    def racy_publish(spark_, staging, sink_path):
        late = [_ev(900 + i, "t", 55, vid=i) for i in range(1, 3)]
        commit_batch(
            spark_, _changelog(_events(spark_, late)), sink, ["id"],
            run_id="late-append", maintain_rollup=False,
        )
        orig(spark_, staging, sink_path)

    P._publish_replace = racy_publish
    try:
        got = compact_sink_files(spark, sink, ["id"], max_files=4)
    finally:
        P._publish_replace = orig

    assert got["partitions_compacted"] == 1
    jan_files = [
        f for f in fs.list_data_files(spark, sink) if f.startswith(jan_rel)
    ]
    assert len(jan_files) == 2  # compacted file + late append
    jan_df = spark.read.parquet(fs.join(sink, jan_rel))
    assert jan_df.count() == 15 + 2  # 5 batches × 3 inserts + 2 late
    assert jan_df.filter(F.col("lsn") >= 900).count() == 2


def test_retention_drops_only_old_months(spark, tmp_path):
    from changedatacapture_reporting_spark.operators.maintenance import (
        expire_changelog_months,
    )

    sink = str(tmp_path / "sink")
    _populate_months(spark, sink, n_batches=2)
    total = spark.read.parquet(sink).count()
    feb_rows = (
        spark.read.parquet(sink)
        .filter(F.col("commit_month") == "2024-02-01")
        .count()
    )
    assert 0 < feb_rows < total

    got = expire_changelog_months(spark, sink, "2024-02-01")
    assert got == {"months_dropped": 1, "months_kept": 1}
    assert spark.read.parquet(sink).count() == feb_rows
    # idempotent
    assert expire_changelog_months(spark, sink, "2024-02-01") == {
        "months_dropped": 0,
        "months_kept": 1,
    }


def test_sink_writes_pk_bloom_filters(spark, tmp_path):
    """Sink files carry a pk_json bloom filter (sized by the NDV hint) —
    observable as a stable size delta vs the identical file written
    without the option (pyarrow 16 can't read bloom offsets directly)."""
    from changedatacapture_reporting_spark.operators.populate import (
        sink_write_options,
    )

    sink = str(tmp_path / "sink")
    rows = [_ev(i, "t", i % 60, vid=i) for i in range(1, 300)]
    populate_changelog(spark, _events(spark, rows), sink, ["id"])

    part = fs.join(sink, "table_name=t/commit_month=2024-01-01")
    import os

    with_bloom = sum(
        os.path.getsize(os.path.join(part, f))
        for f in fs.list_data_files(spark, part)
    )
    df = spark.read.parquet(part)
    plain = str(tmp_path / "plain")
    df.repartition(1).write.parquet(plain)
    without = sum(
        os.path.getsize(os.path.join(plain, f))
        for f in fs.list_data_files(spark, plain)
    )
    # NDV hint 100k → ~160 KB bloom per file; same rows otherwise
    assert with_bloom > without + 100_000
    assert sink_write_options()["parquet.bloom.filter.enabled#pk_json"] == "true"


def test_move_file_raises_when_rename_fails(spark, tmp_path, monkeypatch):
    """A ``file://`` path takes the Hadoop FileSystem branch. A failed
    rename must raise instead of letting a commit record a file that
    never arrived, whether the FileSystem throws (the local one, on a
    missing source) or returns ``false`` (HDFS, object stores)."""
    src = f"file://{tmp_path}/missing.parquet"
    dst = f"file://{tmp_path}/out/landed.parquet"
    with pytest.raises(OSError, match="rename failed"):
        fs.move_file(spark, src, dst)
    assert not (tmp_path / "out" / "landed.parquet").exists()

    class RefusingFs:
        def mkdirs(self, path):
            return True

        def rename(self, src, dst):
            return False

    monkeypatch.setattr(fs, "_hadoop", lambda spark, path: (RefusingFs(), None))
    with pytest.raises(OSError, match="rename failed"):
        fs.move_file(spark, src, dst)


def test_mkdirs_raises_when_the_filesystem_refuses(spark, tmp_path, monkeypatch):
    """Hadoop's ``FileSystem.mkdirs`` reports failure by returning
    ``false`` (HDFS, object stores); that must raise, as ``os.makedirs``
    does, instead of letting a commit proceed into a missing dir."""
    made = f"file://{tmp_path}/a/b"
    fs.mkdirs(spark, made)
    fs.mkdirs(spark, made)  # present already: fine
    assert (tmp_path / "a" / "b").is_dir()

    class RefusingFs:
        def mkdirs(self, path):
            return False

    monkeypatch.setattr(fs, "_hadoop", lambda spark, path: (RefusingFs(), None))
    with pytest.raises(OSError, match="mkdirs failed"):
        fs.mkdirs(spark, f"file://{tmp_path}/c")

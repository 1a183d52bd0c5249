"""Incremental populate: per-table watermarks, compat flags (legacy minute
skip ST1, error swallowing ST5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark.config import CompatFlags
from changedatacapture_reporting_spark.operators.populate import (
    PopulateResult,
    populate_changelog,
)

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


def test_per_table_watermarks_are_independent(spark, tmp_path):
    """Table B lagging behind table A must still load B's rows whose LSNs
    are below A's watermark (a single global watermark would drop them)."""
    sink = str(tmp_path / "sink")
    first = spark.createDataFrame(
        [_ev(100, "a", 0), _ev(101, "a", 1), _ev(10, "b", 2)], SCHEMA
    )
    r1 = populate_changelog(spark, first, sink, ["id"])
    assert r1.rows_changed == 3

    # second run: new rows for b with lsn 20/30 — below a's watermark (101)
    second = spark.createDataFrame(
        [_ev(100, "a", 0), _ev(101, "a", 1), _ev(10, "b", 2),
         _ev(20, "b", 3), _ev(30, "b", 4), _ev(102, "a", 5)],
        SCHEMA,
    )
    r2 = populate_changelog(spark, second, sink, ["id"])
    assert r2.rows_changed == 3  # b:20, b:30, a:102 — nothing double-loaded

    log = spark.read.parquet(sink)
    assert log.count() == 6
    assert log.filter(F.col("table_name") == "b").count() == 3


def test_legacy_minute_skip_drops_close_changes(spark, tmp_path):
    """CompatFlags.legacy_minute_skip reproduces the reference bug
    (populate:203): a change committed <60s after the last load is lost."""
    sink = str(tmp_path / "sink")
    flags = CompatFlags(legacy_minute_skip=True)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    first = spark.createDataFrame(
        [(1, 0, base, "insert", "t", None, (1, "a"))], SCHEMA
    )
    populate_changelog(spark, first, sink, ["id"], flags=flags)

    # 30s after the watermark: inside the skipped minute
    second = spark.createDataFrame(
        [(1, 0, base, "insert", "t", None, (1, "a")),
         (2, 0, base + dt.timedelta(seconds=30), "insert", "t", None, (2, "b")),
         (3, 0, base + dt.timedelta(minutes=2), "insert", "t", None, (3, "c"))],
        SCHEMA,
    )
    populate_changelog(spark, second, sink, ["id"], flags=flags)
    ids = sorted(r.id for r in spark.read.parquet(sink).collect())
    assert ids == [1, 3]  # id=2 silently lost — documented reference bug

    # exact default semantics load it
    sink2 = str(tmp_path / "sink2")
    populate_changelog(spark, first, sink2, ["id"])
    populate_changelog(spark, second, sink2, ["id"])
    ids = sorted(r.id for r in spark.read.parquet(sink2).collect())
    assert ids == [1, 2, 3]


def test_swallow_errors_compat(spark, tmp_path):
    """ST5: reference TRY/CATCHes any failure into 'No changes were
    detected'; default surfaces the error."""
    bad = spark.createDataFrame([(1, "x")], "a int, b string")  # wrong schema
    sink = str(tmp_path / "sink")
    with pytest.raises(Exception):
        populate_changelog(spark, bad, sink, ["id"])
    res = populate_changelog(
        spark, bad, sink, ["id"], flags=CompatFlags(swallow_errors=True)
    )
    assert res == PopulateResult(rows_changed=0, from_lsn=None, to_lsn=None)


def test_salted_populate_differential(spark, tmp_path):
    """salt_buckets also routes the per-table watermark aggregate through
    the salted two-phase plan (plans/skew.salted_aggregate). Differential:
    a skewed batch (one hot table with 90% of rows) populated with and
    without salting produces byte-identical sink rows, identical sidecar
    watermarks, and the same rows_changed."""
    hot = [_ev(i, "hot", i % 60, vid=i) for i in range(1, 181)]
    cold = [_ev(200 + i, f"cold{i % 3}", i % 60, vid=i) for i in range(20)]
    events = spark.createDataFrame(hot + cold, SCHEMA)

    sinks, results = {}, {}
    for label, buckets in [("plain", None), ("salted", 8)]:
        sink = str(tmp_path / label)
        results[label] = populate_changelog(
            spark, events, sink, ["id"], salt_buckets=buckets
        )
        log = spark.read.parquet(sink)
        sinks[label] = {
            tuple(r)
            for r in log.select(
                "table_name", "lsn", "pk_json", "column_name",
                "old_value", "new_value", "commit_time",
            ).collect()
        }

    assert results["plain"].rows_changed == results["salted"].rows_changed > 0
    assert sinks["plain"] == sinks["salted"]

    # sidecar watermarks must agree too (they feed the next resume)
    wms = {}
    for label in ("plain", "salted"):
        side = spark.read.parquet(str(tmp_path / label / "_watermarks"))
        wms[label] = {
            (r.table_name, r.lsn) for r in side.select("table_name", "lsn").collect()
        }
    assert wms["plain"] == wms["salted"]

    # incremental resume on the salted path: nothing new → zero rows
    again = populate_changelog(
        spark, events, str(tmp_path / "salted"), ["id"], salt_buckets=8
    )
    assert again.rows_changed == 0


def test_backfill_fills_gap_without_duplicates(spark, tmp_path):
    """backfill_changelog appends only the missing rows (dedup against
    the sink), is idempotent, leaves the watermark untouched, and the
    next normal populate run still resumes from the true watermark."""
    from changedatacapture_reporting_spark.operators.populate import (
        backfill_changelog,
    )

    sink = str(tmp_path / "sink")
    full = [
        _ev(1, "a", 0), _ev(2, "a", 1), _ev(3, "a", 2),
        _ev(4, "a", 3), _ev(5, "a", 4),
    ]
    gapped = [e for e in full if e[0] not in (2, 3)]
    populate_changelog(spark, spark.createDataFrame(gapped, SCHEMA), sink, ["id"])
    assert spark.read.parquet(sink).count() == 3

    r = backfill_changelog(
        spark, spark.createDataFrame(full, SCHEMA), sink, ["id"]
    )
    assert r.rows_changed == 2
    log = spark.read.parquet(sink)
    assert sorted(x.lsn for x in log.collect()) == [1, 2, 3, 4, 5]

    # idempotent
    r2 = backfill_changelog(
        spark, spark.createDataFrame(full, SCHEMA), sink, ["id"]
    )
    assert r2.rows_changed == 0
    assert spark.read.parquet(sink).count() == 5

    # the watermark did not regress: a normal run loads only lsn > 5
    more = full + [_ev(6, "a", 5)]
    r3 = populate_changelog(
        spark, spark.createDataFrame(more, SCHEMA), sink, ["id"]
    )
    assert r3.rows_changed == 1 and r3.from_lsn == 5
    assert spark.read.parquet(sink).count() == 6


def _delta_rows(spark, sink):
    from changedatacapture_reporting_spark.sources.delta_table import (
        read_delta,
    )

    return read_delta(spark, sink)


def test_delta_sink_resume_idempotence_and_parity(spark, tmp_path):
    """sink_format='delta' (VERDICT r12 #6 — one commit protocol): the
    watermark txn actions ride the data commit, so (a) re-running the
    same events is an exact no-op, (b) per-table watermarks stay
    independent, (c) a split-window pair of runs equals one full run,
    and (d) the delta sink's rows equal the parquet sink's for the same
    input."""
    sink_d = str(tmp_path / "sink_delta")
    sink_p = str(tmp_path / "sink_parquet")
    first = spark.createDataFrame(
        [_ev(100, "a", 0), _ev(101, "a", 1), _ev(10, "b", 2)], SCHEMA
    )
    r1 = populate_changelog(
        spark, first, sink_d, ["id"],
        maintain_rollup=False, sink_format="delta",
    )
    assert r1.rows_changed == 3
    # exact replay: nothing re-loads, no new Delta version with rows
    r1b = populate_changelog(
        spark, first, sink_d, ["id"],
        maintain_rollup=False, sink_format="delta",
    )
    assert r1b.rows_changed == 0

    second = spark.createDataFrame(
        [_ev(100, "a", 0), _ev(101, "a", 1), _ev(10, "b", 2),
         _ev(20, "b", 3), _ev(30, "b", 4), _ev(102, "a", 5)],
        SCHEMA,
    )
    r2 = populate_changelog(
        spark, second, sink_d, ["id"],
        maintain_rollup=False, sink_format="delta",
    )
    assert r2.rows_changed == 3  # b:20, b:30, a:102 — below-a's-wm rows load

    log = _delta_rows(spark, sink_d)
    assert log.count() == 6
    assert log.filter(F.col("table_name") == "b").count() == 3

    # parity with the parquet protocol on identical input
    populate_changelog(spark, first, sink_p, ["id"])
    populate_changelog(spark, second, sink_p, ["id"])
    key = lambda r: (r["table_name"], r["lsn"], r["column_name"])
    a = sorted(map(tuple, _delta_rows(spark, sink_d)
                   .select("table_name", "lsn", "column_name", "new_value")
                   .collect()))
    b = sorted(map(tuple, spark.read.parquet(sink_p)
                   .select("table_name", "lsn", "column_name", "new_value")
                   .collect()))
    assert a == b


def test_delta_sink_split_window_equals_full(spark, tmp_path):
    sink_split = str(tmp_path / "split")
    sink_full = str(tmp_path / "full")
    events = spark.createDataFrame(
        [_ev(i, "t", i % 60, vid=i) for i in range(1, 21)], SCHEMA
    )
    kw = dict(maintain_rollup=False, sink_format="delta")
    r1 = populate_changelog(spark, events, sink_split, ["id"], to_lsn=10, **kw)
    r2 = populate_changelog(spark, events, sink_split, ["id"], **kw)
    rf = populate_changelog(spark, events, sink_full, ["id"], **kw)
    assert r1.rows_changed + r2.rows_changed == rf.rows_changed
    got = sorted(r.lsn for r in _delta_rows(spark, sink_split).collect())
    want = sorted(r.lsn for r in _delta_rows(spark, sink_full).collect())
    assert got == want
    # to_lsn below the watermark still raises on the delta sink
    with pytest.raises(Exception, match="TO date"):
        populate_changelog(spark, events, sink_split, ["id"], to_lsn=5, **kw)


def test_delta_sink_refuses_rollup(spark, tmp_path):
    events = spark.createDataFrame([_ev(1, "t", 0)], SCHEMA)
    with pytest.raises(ValueError, match="rollup"):
        populate_changelog(
            spark, events, str(tmp_path / "s"), ["id"],
            sink_format="delta",
        )
    with pytest.raises(ValueError, match="sink_format"):
        populate_changelog(
            spark, events, str(tmp_path / "s"), ["id"],
            maintain_rollup=False, sink_format="orc",
        )


def test_delta_sink_maintenance_expire_and_optimize(spark, tmp_path):
    """The delta sink inherits the maintenance story from the table
    format itself: expire_delta_months drops old partitions in ONE
    metadata-only commit (still time-travelable), and optimize_delta
    compacts the per-batch small files — no sink-specific machinery."""
    from changedatacapture_reporting_spark.operators.maintenance import (
        expire_delta_months,
    )
    from changedatacapture_reporting_spark.sources.delta_table import (
        optimize_delta,
        read_delta,
    )

    sink = str(tmp_path / "sink")
    kw = dict(maintain_rollup=False, sink_format="delta")
    # three batches across two months
    jan = [_ev(i, "t", i, vid=i) for i in range(1, 6)]
    feb = [
        (i, 0, dt.datetime(2024, 2, 1, 12, i), "insert", "t",
         None, (i, f"v{i}"))
        for i in range(10, 14)
    ]
    populate_changelog(
        spark, spark.createDataFrame(jan, SCHEMA), sink, ["id"], **kw
    )
    populate_changelog(
        spark, spark.createDataFrame(jan + feb, SCHEMA), sink, ["id"], **kw
    )
    before = read_delta(spark, sink).count()
    assert before == len(jan) + len(feb)

    res = expire_delta_months(spark, sink, "2024-02-01")
    assert res["months_dropped"] == 1 and res["files_removed"] >= 1
    after = read_delta(spark, sink)
    assert after.count() == len(feb)
    assert {
        r["commit_month"].isoformat() for r in after.collect()
    } == {"2024-02-01"}
    # expired month is still time-travelable (metadata-only removal)
    assert read_delta(spark, sink, version=res["version"] - 1).count() == before

    # physical compaction = plain optimize_delta on the sink
    opt = optimize_delta(spark, sink, target_file_bytes=1 << 30)
    assert opt["version"] is not None or opt["files_removed"] == 0
    assert read_delta(spark, sink).count() == len(feb)

    # a no-op expire returns version None
    res2 = expire_delta_months(spark, sink, "2024-02-01")
    assert res2 == {
        "months_dropped": 0, "months_kept": 1,
        "files_removed": 0, "version": None,
    }


def test_delta_sink_concurrent_populate_gated(spark, tmp_path):
    """Two populate runs that selected the same window (same watermark
    floor) cannot both land it (ADVICE r13): the Delta writer
    re-verifies the per-table watermark floors inside its commit loop
    and withdraws the loser. Simulated by replaying the loser's commit
    step — build_changelog + commit_batch_delta with the PRE-run floor
    — after the winner already advanced the watermark."""
    from changedatacapture_reporting_spark.operators.changelog import (
        build_changelog,
    )
    from changedatacapture_reporting_spark.operators.populate import (
        commit_batch_delta,
    )

    sink = str(tmp_path / "sink")
    events = spark.createDataFrame(
        [_ev(1, "t", 0), _ev(2, "t", 1)], SCHEMA
    )
    # winner: a normal populate run (floor = {} on first load)
    r1 = populate_changelog(
        spark, events, sink, ["id"],
        maintain_rollup=False, sink_format="delta",
    )
    assert r1.rows_changed == 2
    n0 = _delta_rows(spark, sink).count()

    # loser: same batch, committed against the PRE-run floor (the
    # watermarks it read before the winner landed — first load = {})
    changelog = build_changelog(
        events, ["id"], flags=CompatFlags(), carry_cols=["lsn", "seq"]
    ).withColumn("commit_month", F.trunc("commit_time", "month"))
    assert (
        commit_batch_delta(
            spark, changelog, sink, ["id"], wm_floors={}
        )
        == 0
    )
    assert _delta_rows(spark, sink).count() == n0  # nothing doubled

    # same call WITHOUT floors (legacy/streaming semantics) would land:
    # proves the gate, not the txn replay, blocked it
    assert (
        commit_batch_delta(spark, changelog, sink, ["id"]) > 0
    )


def test_sidecar_commit_rows_plan_as_a_local_relation(spark):
    """The parquet sink's commit point writes its watermark rows from a
    JVM-local relation: no Python-RDD scan, so no Python-worker job per
    commit."""
    from pyspark.sql import Row

    from changedatacapture_reporting_spark.operators.populate import (
        _sidecar_rows,
    )

    per_table = [
        Row(table_name="o'brien", lsn=5_000_000_000),
        Row(table_name="t", lsn=7),
    ]
    df = _sidecar_rows(spark, per_table, "run-1")
    plan = df.repartition(1)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan
    assert df.dtypes == [
        ("table_name", "string"), ("lsn", "bigint"), ("run_id", "string"),
    ]
    assert sorted(map(tuple, df.collect())) == [
        ("o'brien", 5_000_000_000, "run-1"),
        ("t", 7, "run-1"),
    ]

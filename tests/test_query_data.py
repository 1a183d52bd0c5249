"""usp_cdc_query_data semantics (SURVEY.md §3 entry point 2): changelog
resolution by pattern, day-truncated bounds, freshness banner, validation."""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark.operators.query_data import (
    ChangelogNotFoundError,
    freshness,
    query_changelog,
    resolve_changelog_name,
)
from changedatacapture_reporting_spark.sources.delta_table import (
    delete_delta,
    read_delta,
    snapshot_of,
    write_delta,
)


@pytest.fixture(scope="module")
def log(spark):
    rows = [
        (dt.datetime(2024, 1, 1, 23, 59), "t", "name", "a", "b"),
        (dt.datetime(2024, 1, 2, 0, 0), "t", "qty", "1", "2"),
        (dt.datetime(2024, 1, 3, 12, 30), "t", "name", "b", "c"),
        (dt.datetime(2024, 2, 1, 8, 0), "t", "qty", "2", "3"),
    ]
    return spark.createDataFrame(
        rows,
        "commit_time timestamp, table_name string, column_name string,"
        " old_value string, new_value string",
    ).withColumn("created_dt", F.col("commit_time"))


def test_resolve_by_pattern():
    """`name LIKE '<table>%_ChangeLog'` lookup (query:33, 38), case-insensitive."""
    cands = ["orders_changelog", "lineitem_v2_changelog", "other"]
    assert resolve_changelog_name(None, "Orders", cands) == "orders_changelog"
    assert (
        resolve_changelog_name(None, "lineitem", cands) == "lineitem_v2_changelog"
    )


def test_resolve_missing_raises():
    with pytest.raises(ChangelogNotFoundError):
        resolve_changelog_name(None, "nope", ["orders_changelog"])


def test_day_truncated_inclusive_bounds(log):
    """Bounds truncate to dates on BOTH ends (query:53–54): a from-date of
    Jan-1 23:00 still includes Jan-1 00:00 rows; a to-date of Jan-3 00:00
    includes all of Jan-3."""
    out = query_changelog(
        log, dt.datetime(2024, 1, 1, 23, 0), dt.datetime(2024, 1, 3, 0, 0)
    )
    times = sorted(r.commit_time for r in out.collect())
    assert times == [
        dt.datetime(2024, 1, 1, 23, 59),
        dt.datetime(2024, 1, 2, 0, 0),
        dt.datetime(2024, 1, 3, 12, 30),  # included despite 00:00 to-bound
    ]


def test_inverted_range_raises(log):
    with pytest.raises(ValueError):
        query_changelog(log, "2024-02-01", "2024-01-01")


def test_default_to_date_is_now(log):
    out = query_changelog(log, "2024-01-01")
    assert out.count() == 4


def test_freshness_banner(log):
    row = freshness(log).head()
    assert row.accurate_as_of == "02/01/2024"
    assert row.message == "ATTENTION: Data is accurate as of 02/01/2024"


def _with_job_count(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"query_data_job_count_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(jobs)


def test_range_check_runs_no_job(spark, log):
    """The from > to check evaluates two constants over a one-row local
    relation: building a range report runs no Spark job, for str, date
    and datetime bounds alike."""
    for lo, hi in [
        ("2024-01-01", "2024-01-03"),
        (dt.date(2024, 1, 1), dt.date(2024, 1, 3)),
        (dt.datetime(2024, 1, 1, 23, 0), dt.datetime(2024, 1, 3, 0, 0)),
    ]:
        _, jobs = _with_job_count(spark, lambda: query_changelog(log, lo, hi))
        assert jobs == 0


def _banner_matches_scan(df, ts_col, fast):
    """freshness on ``df`` equals the aggregate over the same rows (the
    scan path, reached through a derived frame), and runs no Spark job
    exactly when the stats path answers. Returns the banner date."""
    got, jobs = _with_job_count(
        df.sparkSession,
        lambda: [tuple(r) for r in freshness(df, ts_col).collect()],
    )
    want = [tuple(r) for r in freshness(df.filter("true"), ts_col).collect()]
    assert got == want
    assert (jobs == 0) == fast, jobs
    return got[0][1]


def _ts_rows(spark, *stamps):
    """One ``id, ts`` row per UTC timestamp literal (None = NULL)."""
    sel = [
        f"{i} as id, "
        + ("cast(null as timestamp)" if s is None else f"timestamp'{s}'")
        + " as ts"
        for i, s in enumerate(stamps)
    ]
    return spark.sql(" union all ".join(f"select {s}" for s in sel))


def test_freshness_on_delta_snapshot_reads_stats(spark, tmp_path):
    """An unfiltered read_delta frame answers the banner from the log's
    per-file maxValues: no Spark job, the scan's answer. Empty tables and
    all-NULL columns give NULL, as the aggregate does."""
    path = str(tmp_path / "multi")
    for stamps in [
        ("2024-01-03 10:00:00", None),
        ("2024-02-01 08:00:00.5",),
        ("2023-12-31 23:00:00", "2024-01-31 00:00:00"),
    ]:
        write_delta(spark, _ts_rows(spark, *stamps).coalesce(1), path)
    df = read_delta(spark, path)
    assert _banner_matches_scan(df, "ts", fast=True) == "02/01/2024"

    empty = str(tmp_path / "empty")
    write_delta(spark, _ts_rows(spark, None).limit(0), empty)
    assert _banner_matches_scan(read_delta(spark, empty), "ts", True) is None

    nulls = str(tmp_path / "nulls")
    write_delta(spark, _ts_rows(spark, None, None), nulls)
    assert _banner_matches_scan(read_delta(spark, nulls), "ts", True) is None


def test_freshness_stats_path_ignores_session_time_zone(spark, tmp_path):
    """A max one microsecond before midnight UTC, read in a session east
    of UTC: the stats path folds the instant, not its text, so its banner
    is the scan's local date in that session."""
    path = str(tmp_path / "tz")
    write_delta(spark, _ts_rows(spark, "2024-03-30 12:00:00"), path)
    write_delta(spark, _ts_rows(spark, "2024-03-31 23:59:59.999999"), path)
    tokyo = spark.newSession()
    tokyo.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    assert _banner_matches_scan(read_delta(tokyo, path), "ts", True) == (
        "04/01/2024"
    )
    assert _banner_matches_scan(read_delta(spark, path), "ts", True) == (
        "03/31/2024"
    )


def test_freshness_on_column_mapped_snapshot(spark, tmp_path):
    """Under column mapping 'name' the stats are keyed by physical names;
    the stats path maps the logical ``ts_col``."""
    def field(name, dtype, phys, cid):
        md = {
            "delta.columnMapping.physicalName": phys,
            "delta.columnMapping.id": cid,
        }
        return T.StructField(name, dtype, True, md)

    schema = T.StructType(
        [
            field("id", T.IntegerType(), "col-aaa", 1),
            field("ts", T.TimestampType(), "col-bbb", 2),
        ]
    )
    base = str(tmp_path / "mapped")
    os.makedirs(base + "/_delta_log")
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "t-mapped",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "name",
                    "delta.columnMapping.maxColumnId": "2",
                },
                "createdTime": 0,
            }
        },
    ]
    with open(f"{base}/_delta_log/{0:020d}.json", "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    write_delta(spark, _ts_rows(spark, "2024-05-02 01:00:00"), base)
    write_delta(spark, _ts_rows(spark, "2024-04-30 00:00:00"), base)
    assert _banner_matches_scan(read_delta(spark, base), "ts", True) == (
        "05/02/2024"
    )


def test_freshness_falls_back_where_stats_cannot_answer(spark, tmp_path):
    """A live deletion vector (the stats still count the deleted max), a
    file written without stats and a partition column all run the
    aggregate instead, with the scan's answer."""
    dv = str(tmp_path / "dv")
    write_delta(
        spark,
        _ts_rows(spark, "2024-01-01 00:00:00", "2024-06-01 00:00:00").coalesce(1),
        dv,
    )
    delete_delta(spark, dv, spark.range(1, 2), deletion_vectors=True)
    assert _banner_matches_scan(read_delta(spark, dv), "ts", False) == (
        "01/01/2024"
    )

    nostats = str(tmp_path / "nostats")
    write_delta(spark, _ts_rows(spark, "2024-01-01 00:00:00"), nostats)
    write_delta(
        spark, _ts_rows(spark, "2024-07-01 00:00:00"), nostats,
        collect_stats=False,
    )
    assert _banner_matches_scan(read_delta(spark, nostats), "ts", False) == (
        "07/01/2024"
    )

    part = str(tmp_path / "part")
    write_delta(
        spark,
        _ts_rows(spark, "2024-01-01 00:00:00", "2024-08-01 00:00:00")
        .withColumn("d", F.to_date("ts")),
        part,
        partition_by=["d"],
    )
    assert _banner_matches_scan(read_delta(spark, part), "d", False) == (
        "08/01/2024"
    )


def test_freshness_keeps_the_frames_own_snapshot(spark, tmp_path):
    """A frame read before a newer append answers for its own snapshot;
    a skip-read frame carries no snapshot and is scanned."""
    path = str(tmp_path / "snap")
    write_delta(spark, _ts_rows(spark, "2024-01-05 00:00:00"), path)
    old = read_delta(spark, path)
    write_delta(spark, _ts_rows(spark, "2024-09-09 00:00:00"), path)
    assert _banner_matches_scan(old, "ts", True) == "01/05/2024"
    assert _banner_matches_scan(read_delta(spark, path), "ts", True) == (
        "09/09/2024"
    )
    skipped = read_delta(spark, path, skip=[("id", ">=", 0)])
    assert snapshot_of(skipped) is None
    assert _banner_matches_scan(skipped, "ts", False) == "09/09/2024"

"""Changelog reporting — ``usp_cdc_query_data.sql`` semantics.

Entry point 2 of the reference (query:9–12): resolve the changelog table,
emit a freshness banner (MAX(created_dt) formatted MM/dd/yyyy, query:41–46;
answered from the Delta log's file statistics when it can be),
then a time-range slice whose bounds are **day-truncated on both ends**
(``CONVERT(VARCHAR(10), date, 101)``, query:53–54) — i.e. the range filter
is date-inclusive regardless of time-of-day in the arguments.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.sources.delta_table import stats_max


class ChangelogNotFoundError(Exception):
    """Mirrors the reference RAISERROR when no ``<table>%_ChangeLog`` table
    exists (query:36–37)."""


def resolve_changelog_name(
    spark: SparkSession, table: str, candidates: list[str] | None = None
) -> str:
    """Resolve changelog by pattern ``<table>%_ChangeLog`` (query:33, 38)."""
    names = candidates
    if names is None:
        names = [t.name for t in spark.catalog.listTables()]
    pat = re.compile(re.escape(table.strip().lower()) + r".*_changelog$")
    for name in names:
        if pat.match(name.lower()):
            return name
    raise ChangelogNotFoundError(
        f"A change-log table for {table!r} does not exist"
    )


def query_changelog(
    changelog: DataFrame,
    from_date: dt.datetime | dt.date | str,
    to_date: dt.datetime | dt.date | str | None = None,
) -> DataFrame:
    """Day-truncated time-range slice (query:49–57).

    ``to_date`` defaults to now (query:24 ``COALESCE(@to_date, GETDATE())``);
    ``from_date > to_date`` raises (query:26–30). Both bounds are truncated
    to dates and the filter is inclusive: commit dates in [from_d, to_d].
    The check evaluates the filter's own bound expressions (Spark's casts
    of str, date and datetime) over a one-row local relation, so it runs
    no Spark job.

    The filter is expressed on a date-cast of ``commit_time`` so Catalyst
    still pushes a min/max-style predicate into the parquet scan; when the
    frame carries the sink's ``commit_month`` partition column, the
    month-truncated bounds are applied to it too, so the scan prunes whole
    month partitions before reading a single row group.
    """
    to_date = to_date if to_date is not None else dt.datetime.now(dt.timezone.utc)
    from_c = F.to_date(F.lit(from_date).cast("timestamp"))
    to_c = F.to_date(F.lit(to_date).cast("timestamp"))
    # an inline table of constants plans as a LocalRelation
    invalid = changelog.sparkSession.sql("VALUES (0)").select(
        (from_c > to_c).alias("bad")
    ).head()[0]
    if invalid:
        raise ValueError("The FROM DATE cannot be greater than the TO DATE")
    d = F.to_date("commit_time")
    pred = (d >= from_c) & (d <= to_c)
    if "commit_month" in changelog.columns:
        pred = pred & F.col("commit_month").between(
            F.trunc(from_c, "month"), F.trunc(to_c, "month")
        )
    return changelog.filter(pred)


def _banner(latest: Column) -> list[Column]:
    """The banner's two columns over the latest timestamp, formatted in
    the session time zone."""
    day = F.date_format(latest, "MM/dd/yyyy")
    return [
        F.concat(F.lit("ATTENTION: Data is accurate as of "), day).alias(
            "message"
        ),
        day.alias("accurate_as_of"),
    ]


def freshness(changelog: DataFrame, ts_col: str = "created_dt") -> DataFrame:
    """'ATTENTION: Data is accurate as of …' banner (query:41–46):
    MAX(created_dt) formatted MM/dd/yyyy.

    On an unfiltered ``read_delta`` frame the MAX comes from the Delta
    log's per-file statistics (``delta_table.stats_max``): no data file
    is opened and the banner is a one-row local relation. Any other
    frame, or a column the stats cannot answer exactly (deletion
    vectors, files without stats, a partition column), runs the
    aggregate over the rows."""
    try:
        latest = stats_max(changelog, ts_col)
    except ValueError:
        return changelog.agg(*_banner(F.max(ts_col)))
    return latest.select(*_banner(latest[0]))

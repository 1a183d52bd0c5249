"""Unit tests for the core populate dataflow (SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from changedatacapture_reporting_spark.config import CompatFlags
from changedatacapture_reporting_spark.operators.changelog import (
    build_changelog,
    pair_update_images,
)
from changedatacapture_reporting_spark.schema import DELETED_RECORD, NEW_RECORD

PK = ["id", "tenant_id"]


def _rows(df):
    return {
        (
            r.commit_time.isoformat(),
            r.id,
            r.tenant_id,
            r.column_name,
            r.old_value,
            r.new_value,
        )
        for r in df.collect()
    }


def test_update_emits_one_row_per_changed_column(spark, cdc_fixture):
    log = build_changelog(cdc_fixture, PK, with_audit_cols=False)
    upd = log.filter(F.col("column_name").isNotNull())
    got = _rows(upd)
    assert ("2024-01-02T09:00:00", 1, 1, "name", "a", "a2") in got
    assert ("2024-01-02T09:00:00", 1, 1, "qty", "10", "11") in got
    # unchanged columns of that update emit nothing
    assert not any(
        r for r in got if r[0] == "2024-01-02T09:00:00" and r[3] in ("id", "tenant_id", "note")
    )


def test_null_transitions_are_detected(spark, cdc_fixture):
    got = _rows(build_changelog(cdc_fixture, PK, with_audit_cols=False))
    assert ("2024-01-02T09:30:00", 1, 1, "note", None, "filled") in got
    assert ("2024-01-02T09:45:00", 2, 1, "note", "x", None) in got


def test_insert_delete_markers(spark, cdc_fixture):
    log = build_changelog(cdc_fixture, PK, with_audit_cols=False)
    markers = log.filter(F.col("column_name").isNull())
    got = _rows(markers)
    assert ("2024-01-01T10:00:00", 1, 1, None, None, NEW_RECORD) in got
    assert ("2024-01-03T08:00:00", 3, 2, None, DELETED_RECORD, None) in got
    assert sum(1 for r in got if r[5] == NEW_RECORD) == 3
    assert sum(1 for r in got if r[4] == DELETED_RECORD) == 1


def test_same_lsn_double_update_does_not_cross_match(spark, cdc_fixture):
    """Two updates to one row in one transaction (lsn=8) must pair each
    before with ITS OWN after — the reference's join on (lsn, column, pk)
    alone would cross-match (SURVEY.md §2.3 J1 gap)."""
    log = build_changelog(cdc_fixture, PK, with_audit_cols=False)
    got = _rows(log.filter(F.to_date("commit_time") == "2024-01-04"))
    assert ("2024-01-04T12:00:00", 2, 1, "qty", "20", "21") in got
    assert ("2024-01-04T12:00:00", 2, 1, "qty", "21", "22") in got
    assert len(got) == 2  # no 20→22 / 21→21 cross-products


def test_pk_json_canonical_form(spark, cdc_fixture):
    log = build_changelog(cdc_fixture, PK, with_audit_cols=False)
    r = log.filter(
        (F.col("id") == 1) & F.col("column_name").isNull()
    ).head()
    assert r.pk_json == '{"id":1,"tenant_id":1}'


def test_truncate128_compat_flag(spark):
    from pyspark.sql import types as T

    src = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("commit_ts", T.TimestampType()),
            T.StructField("op", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("before", src),
            T.StructField("after", src),
        ]
    )
    import datetime as dt

    long_v = "x" * 200
    df = spark.createDataFrame(
        [(1, 0, dt.datetime(2024, 1, 1), "update", "t", (1, "a"), (1, long_v))],
        schema,
    )
    faithful = build_changelog(
        df, ["id"], flags=CompatFlags(truncate128=True), with_audit_cols=False
    )
    assert faithful.head().new_value == "x" * 128
    exact = build_changelog(df, ["id"], with_audit_cols=False)
    assert exact.head().new_value == long_v


def test_global_order_compat_flag(spark, cdc_fixture):
    """CompatFlags.global_order reproduces the reference's total ORDER BY
    (populate:390–394); default leaves ordering to the sink."""
    ordered = build_changelog(
        cdc_fixture, PK, flags=CompatFlags(global_order=True),
        with_audit_cols=False,
    ).collect()
    keys = [
        (r.commit_time, r.id, r.tenant_id, r.column_name or "") for r in ordered
    ]
    assert keys == sorted(keys)


def test_schema_evolution_new_source_column(spark, tmp_path):
    """S2 dynamic-schema story: when the source grows a column, the EAV
    changelog absorbs it with NO sink schema change — the new column's
    changes appear as ordinary (column_name, old, new) rows and append to
    the same parquet sink (the reference re-discovers columns from
    sys.columns each run, populate:295; ours re-reads df.schema)."""
    import datetime as dt

    from pyspark.sql import types as T

    def evt_schema(fields):
        src = T.StructType([T.StructField(n, t) for n, t in fields])
        return T.StructType(
            [
                T.StructField("lsn", T.LongType(), False),
                T.StructField("seq", T.LongType(), False),
                T.StructField("commit_ts", T.TimestampType(), False),
                T.StructField("op", T.StringType(), False),
                T.StructField("table_name", T.StringType(), False),
                T.StructField("before", src, True),
                T.StructField("after", src, True),
            ]
        )

    ts = dt.datetime(2024, 1, 1, 10, 0)
    v1 = spark.createDataFrame(
        [(1, 0, ts, "update", "t", (1, "a"), (1, "b"))],
        evt_schema([("id", T.IntegerType()), ("name", T.StringType())]),
    )
    v2 = spark.createDataFrame(
        [(2, 0, ts, "update", "t", (1, "b", None), (1, "b", 5))],
        evt_schema(
            [
                ("id", T.IntegerType()),
                ("name", T.StringType()),
                ("score", T.IntegerType()),
            ]
        ),
    )
    sink = str(tmp_path / "sink")
    for ev in (v1, v2):
        build_changelog(ev, ["id"], with_audit_cols=False).write.mode(
            "append"
        ).parquet(sink)

    log = spark.read.parquet(sink)
    assert {r.column_name for r in log.collect()} == {"name", "score"}
    score_row = log.filter(F.col("column_name") == "score").head()
    assert (score_row.old_value, score_row.new_value) == (None, "5")


def test_changelog_plan_is_single_scan(spark, sf_dir):
    """The fused build must stay one source scan with no union — the
    branch-per-op formulation silently triples source reads."""
    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        SIM_PK,
        simulate_cdc_events,
    )

    df = build_changelog(
        simulate_cdc_events(spark, sf_dir), SIM_PK, with_audit_cols=False
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_pair_update_images_join_path(spark, cdc_fixture):
    """J1: the reference's literal join shape over split before/after rows
    must agree with the join-free paired path."""
    upd = cdc_fixture.filter(F.col("op") == "update")
    value_cols = [f.name for f in cdc_fixture.schema["after"].dataType.fields]
    changed = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"before.{c}").eqNullSafe(F.col(f"after.{c}")),
                    F.lit(c),
                )
                for c in value_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    before_rows = upd.select(
        "lsn", "seq", "commit_ts", "table_name",
        F.col("before").alias("image"), changed.alias("changed_cols"),
    )
    after_rows = upd.select(
        "lsn", "seq", "commit_ts", "table_name",
        F.col("after").alias("image"), changed.alias("changed_cols"),
    )
    joined = pair_update_images(before_rows, after_rows, PK)
    direct = build_changelog(cdc_fixture, PK, with_audit_cols=False).filter(
        F.col("column_name").isNotNull()
    )
    j = {tuple(r) for r in joined.select(
        "commit_time", "table_name", "id", "tenant_id",
        "column_name", "old_value", "new_value").collect()}
    d = {tuple(r) for r in direct.select(
        "commit_time", "table_name", "id", "tenant_id",
        "column_name", "old_value", "new_value").collect()}
    assert j == d


def test_byte_compat_schema_mirrors_reference_ddl(spark, cdc_fixture):
    """With the fidelity flags on, SELECT * consumers of the reference
    changelog (usp_cdc_query_data.sql:50) see every DDL column
    (usp_cdc_populate_changelog.sql:144–156) in DDL order; pk_json is our
    documented composite-PK extension."""
    flags = CompatFlags(surrogate_id=True, audit_modified_cols=True)
    out = build_changelog(cdc_fixture, PK, flags=flags)

    ddl_cols = [
        "changelog_id",  # <desttable>_id IDENTITY (populate:144,156)
        "commit_time",
        "table_name",
        *PK,
        "column_name",
        "old_value",
        "new_value",
        "created_dt",
        "created_by",
        "modified_dt",
        "modified_by",
    ]
    got = [c for c in out.columns if c in ddl_cols]
    assert got == ddl_cols

    rows = out.select("changelog_id", "modified_dt", "modified_by").collect()
    assert len({r.changelog_id for r in rows}) == len(rows)  # unique key
    assert all(r.modified_dt is None and r.modified_by is None for r in rows)

    # defaults stay lean: no compat columns unless asked
    lean = build_changelog(cdc_fixture, PK)
    assert "changelog_id" not in lean.columns
    assert "modified_dt" not in lean.columns


# value columns whose names would break naive SQL splicing: a backtick,
# a dot (a nested-field path when unquoted), a space and a quote
HOSTILE = ["a`b", "x.y", "has space", "it's"]


def _hostile_events(spark, images):
    """One insert, one update and one delete of row id=1 of table
    ``o'brien`` over the ``HOSTILE`` value columns; ``images`` holds
    the three successive row images (id first)."""
    import datetime as dt

    from pyspark.sql import types as T

    src = T.StructType(
        [T.StructField("id", T.IntegerType())]
        + [T.StructField(c, T.StringType()) for c in HOSTILE]
    )
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("commit_ts", T.TimestampType()),
            T.StructField("op", T.StringType()),
            T.StructField("table_name", T.StringType()),
            T.StructField("before", src),
            T.StructField("after", src),
        ]
    )
    v1, v2 = images
    return spark.createDataFrame(
        [
            (1, 0, dt.datetime(2024, 1, 1), "insert", "o'brien", None, v1),
            (2, 0, dt.datetime(2024, 1, 2), "update", "o'brien", v1, v2),
            (3, 0, dt.datetime(2024, 1, 3), "delete", "o'brien", v2, None),
        ],
        schema,
    )


def _exact(df):
    return sorted(
        (
            (r.lsn, r.table_name, r.id, r.pk_json, r.column_name,
             r.old_value, r.new_value)
            for r in df.collect()
        ),
        key=repr,
    )


def test_hostile_names_exact_rows(spark):
    """Column and table names that need quoting reach the output as
    data: every changed column by its exact name, values (quotes and
    backslashes included) unchanged."""
    v1 = (1, "p", "q", None, "it's 'quoted'")
    v2 = (1, "p2", "q", "now", "back\\slash")
    events = _hostile_events(spark, (v1, v2))
    log = build_changelog(
        events, ["id"], carry_cols=["lsn"], with_audit_cols=False
    )
    pk = '{"id":1}'
    assert log.columns == [
        "lsn", "commit_time", "table_name", "id", "pk_json",
        "column_name", "old_value", "new_value",
    ]
    assert _exact(log) == sorted(
        [
            (1, "o'brien", 1, pk, None, None, NEW_RECORD),
            (2, "o'brien", 1, pk, "a`b", "p", "p2"),
            (2, "o'brien", 1, pk, "has space", None, "now"),
            (2, "o'brien", 1, pk, "it's", "it's 'quoted'", "back\\slash"),
            (3, "o'brien", 1, pk, None, DELETED_RECORD, None),
        ],
        key=repr,
    )

    # record_insert_images: one (column, NULL, value) row per non-null
    # column of the insert, beside its marker
    images = build_changelog(
        events, ["id"], carry_cols=["lsn"], with_audit_cols=False,
        record_insert_images=True,
    )
    assert _exact(images.filter("lsn = 1")) == sorted(
        [
            (1, "o'brien", 1, pk, None, None, NEW_RECORD),
            (1, "o'brien", 1, pk, "id", None, "1"),
            (1, "o'brien", 1, pk, "a`b", None, "p"),
            (1, "o'brien", 1, pk, "x.y", None, "q"),
            (1, "o'brien", 1, pk, "it's", None, "it's 'quoted'"),
        ],
        key=repr,
    )
    assert _exact(images.filter("lsn > 1")) == _exact(log.filter("lsn > 1"))


def test_truncate128_exact_rows_with_insert_images(spark):
    """``truncate128`` cuts both sides of an update and every insert
    image to 128 characters; change detection still compares the full
    values (a difference past character 128 is a change row whose two
    sides read equal, as in the reference)."""
    long_a, long_b = "a" * 200, "a" * 150 + "b" * 50
    v1 = (1, long_a, "q", long_a, None)
    v2 = (1, long_b, "q", long_a, "short")
    events = _hostile_events(spark, (v1, v2))
    log = build_changelog(
        events, ["id"], flags=CompatFlags(truncate128=True),
        carry_cols=["lsn"], with_audit_cols=False, record_insert_images=True,
    )
    pk = '{"id":1}'
    cut = "a" * 128
    assert _exact(log) == sorted(
        [
            (1, "o'brien", 1, pk, None, None, NEW_RECORD),
            (1, "o'brien", 1, pk, "id", None, "1"),
            (1, "o'brien", 1, pk, "a`b", None, cut),
            (1, "o'brien", 1, pk, "x.y", None, "q"),
            (1, "o'brien", 1, pk, "has space", None, cut),
            (2, "o'brien", 1, pk, "a`b", cut, cut),
            (2, "o'brien", 1, pk, "it's", None, "short"),
            (3, "o'brien", 1, pk, None, DELETED_RECORD, None),
        ],
        key=repr,
    )


def _py4j_calls(spark, fn) -> int:
    """py4j round trips ``fn()`` makes through the session's gateway."""
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counted(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        del client.send_command
    return calls[0]


def test_build_changelog_plan_cost_is_flat_in_columns(spark):
    """Building the changelog plan is a fixed handful of JVM calls: the
    per-column expressions are SQL text parsed once per projection, not
    one Column-builder call (several py4j round trips each) per column
    and entry field."""
    from pyspark.sql import types as T

    def events(n_values: int):
        src = T.StructType(
            [T.StructField("id", T.LongType())]
            + [T.StructField(f"c{i}", T.StringType()) for i in range(n_values)]
        )
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("lsn", T.LongType()),
                    T.StructField("seq", T.LongType()),
                    T.StructField("commit_ts", T.TimestampType()),
                    T.StructField("op", T.StringType()),
                    T.StructField("table_name", T.StringType()),
                    T.StructField("before", src),
                    T.StructField("after", src),
                ]
            ),
        )

    def build(df):
        return build_changelog(df, ["id"], carry_cols=["lsn", "seq"])

    build(events(12))  # warm: first-use class lookups
    e12, e48 = events(12), events(48)
    n12 = _py4j_calls(spark, lambda: build(e12))
    n48 = _py4j_calls(spark, lambda: build(e48))
    assert n12 < 300, n12
    assert n48 - n12 < 20, (n12, n48)

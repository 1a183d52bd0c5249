"""CDC input-format adapters: SQL-Server-CDC shape (F13/F15/F16 parity)
and Debezium JSON envelopes."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark.sources.debezium import parse_debezium
from changedatacapture_reporting_spark.sources.mssql_cdc import (
    changed_columns,
    mssql_rows_to_events,
    parse_lsn,
)

SRC = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.IntegerType()),
    ]
)


def test_parse_lsn_hex_string(spark):
    df = spark.createDataFrame(
        [("0x0000000000000000002a",), ("0x00000000000000000100",)], "lsn string"
    )
    got = [r[0] for r in df.select(parse_lsn(F.col("lsn"))).collect()]
    assert got == [42, 256]


def test_changed_columns_bit_probe(spark):
    """F15: fn_cdc_is_bit_set over 1-based ordinals — bit i ↔ ordered col i."""
    df = spark.createDataFrame([(0b101,), (0b010,), (0,)], "mask long")
    got = [
        r[0]
        for r in df.select(
            changed_columns(F.col("mask"), ["id", "name", "qty"])
        ).collect()
    ]
    assert got == [["id", "qty"], ["name"], []]


def test_mssql_rows_pair_updates_on_seqval(spark):
    """op-3/op-4 pairing joins on (lsn, seqval) — two updates to one row in
    one transaction pair correctly (the reference's gap)."""
    rows = [
        # txn lsn=5: row 1 updated twice (seqval 0 and 1)
        ("0x" + "0" * 19 + "5", 0, 3, 6, "t", 1, "a", 1),
        ("0x" + "0" * 19 + "5", 0, 4, 6, "t", 1, "b", 1),
        ("0x" + "0" * 19 + "5", 1, 3, 6, "t", 1, "b", 1),
        ("0x" + "0" * 19 + "5", 1, 4, 6, "t", 1, "c", 1),
        # delete + insert
        ("0x" + "0" * 19 + "6", 0, 1, 0, "t", 2, "x", 9),
        ("0x" + "0" * 19 + "7", 0, 2, 0, "t", 3, "y", 7),
    ]
    schema = (
        "`__$start_lsn` string, `__$seqval` long, `__$operation` int,"
        " `__$update_mask` long, table_name string, id int, name string, qty int"
    )
    df = spark.createDataFrame(rows, schema)
    ts_map = spark.createDataFrame(
        [(5, dt.datetime(2024, 1, 1)), (6, dt.datetime(2024, 1, 2)),
         (7, dt.datetime(2024, 1, 3))],
        "lsn long, commit_ts timestamp",
    )
    events = mssql_rows_to_events(df, ["id", "name", "qty"], ts_map)
    got = {
        (r.lsn, r.seq, r.op): (r.before, r.after) for r in events.collect()
    }
    assert got[(5, 0, "update")][0].name == "a"
    assert got[(5, 0, "update")][1].name == "b"
    assert got[(5, 1, "update")][0].name == "b"
    assert got[(5, 1, "update")][1].name == "c"
    assert got[(6, 0, "delete")][1] is None
    assert got[(7, 0, "insert")][0] is None
    assert len(got) == 4


def _four_branch_pairing(rows, image_cols, lsn_time_map=None):
    """Reference model of the MSSQL pairing: the reference's four reads
    (deletes, inserts, update-before, update-after) with op 3 joined to
    op 4 on (lsn, seq)."""
    from changedatacapture_reporting_spark.sources.mssql_cdc import (
        with_commit_time,
    )

    base = rows.withColumn("lsn", parse_lsn(F.col("`__$start_lsn`"))).withColumn(
        "seq", F.expr("CAST(`__$seqval` AS BIGINT)")
    )
    if lsn_time_map is not None:
        base = with_commit_time(base, lsn_time_map)
    fields = [rows.schema[c] for c in image_cols]
    image = "named_struct({})".format(
        ", ".join(f"'{f.name}', `{f.name}`" for f in fields)
    )
    no_image = f"CAST(NULL AS STRUCT<{T.StructType(fields).toDDL()}>)"
    common = ["lsn", "seq", "commit_ts", "table_name"]

    def rows_of(op):
        return base.filter(f"`__$operation` = {op}")

    deletes = rows_of(1).selectExpr(
        *common, "'delete' AS op", f"{image} AS before", f"{no_image} AS after"
    )
    inserts = rows_of(2).selectExpr(
        *common, "'insert' AS op", f"{no_image} AS before", f"{image} AS after"
    )
    before_rows = rows_of(3).selectExpr(*common, f"{image} AS before")
    after_rows = rows_of(4).selectExpr("lsn", "seq", f"{image} AS after")
    updates = before_rows.join(
        after_rows, on=["lsn", "seq"], how="inner"
    ).selectExpr(*common, "'update' AS op", "before", "after")
    return updates.unionByName(deletes).unionByName(inserts).select(
        "lsn", "seq", "commit_ts", "op", "table_name", "before", "after"
    )


_CDC_ROW_DDL = (
    "`__$start_lsn` string, `__$seqval` long, `__$operation` int,"
    " `__$update_mask` long, table_name string, id int, name string"
)
_T1, _T2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)


def _local(spark, rows, ddl):
    """``rows`` as a local relation (a list would plan as a Python RDD,
    a Python-worker job per use): object columns keep None as NULL."""
    import pandas as pd

    schema = T.StructType.fromDDL(ddl)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object), schema
    )


def _lsn_hex(n):
    return None if n is None else f"0x{n:020x}"


_cdc_row = st.tuples(
    st.sampled_from([None, 1, 2, 3]).map(_lsn_hex),
    st.sampled_from([None, 0, 1]),
    st.sampled_from([None, 0, 1, 2, 3, 4, 5]),
    st.just(0),
    st.sampled_from(["t", "u", None]),
    st.sampled_from([1, 2, None]),
    st.sampled_from(["a", "b", None]),
    st.sampled_from([_T1, _T2, None]),
)
_map_row = st.tuples(st.sampled_from([1, 2, 4]), st.sampled_from([_T1, _T2, None]))
# every listed shape at once: duplicate (lsn, seq, op) rows, an unpaired
# op 3 and op 4, ops 0/5/NULL, NULL lsn and seqval, a map miss (lsn 3)
# and a duplicated map lsn (1)
_ALL_SHAPES = [
    (_lsn_hex(1), 0, 3, 0, "t", 1, "a", _T1),
    (_lsn_hex(1), 0, 3, 0, "t", 1, "b", _T1),
    (_lsn_hex(1), 0, 4, 0, "t", 1, "c", _T1),
    (_lsn_hex(1), 1, 3, 0, "t", 2, "a", _T1),
    (_lsn_hex(2), 0, 4, 0, "u", 2, "b", _T2),
    (_lsn_hex(2), 1, 1, 0, "u", 2, "b", _T2),
    (_lsn_hex(2), 1, 1, 0, "u", 2, "b", _T2),
    (_lsn_hex(3), 0, 2, 0, "t", 3, None, None),
    (_lsn_hex(3), 0, 0, 0, "t", 3, "x", _T2),
    (_lsn_hex(3), 0, 5, 0, "t", 3, "x", _T2),
    (_lsn_hex(3), 0, None, 0, "t", 3, "x", _T2),
    (None, 0, 1, 0, "t", 4, "d", _T1),
    (None, 0, 2, 0, "t", 4, "i", _T1),
    (None, 0, 3, 0, "t", 4, "b", _T1),
    (None, 0, 4, 0, "t", 4, "a", _T1),
    (_lsn_hex(2), None, 2, 0, None, 5, "i", None),
    (_lsn_hex(2), None, 3, 0, "u", 5, "b", _T2),
    (_lsn_hex(2), None, 4, 0, "u", 5, "a", _T2),
]


@settings(max_examples=10, deadline=None)
@given(
    cdc=st.lists(_cdc_row, max_size=14),
    lsn_map=st.none() | st.lists(_map_row, max_size=5),
)
@example(cdc=_ALL_SHAPES, lsn_map=[(1, _T1), (1, _T2), (2, None), (4, _T1)])
@example(cdc=_ALL_SHAPES, lsn_map=None)
def test_mssql_pairing_equals_four_branch_join(spark, cdc, lsn_map):
    """The one-exchange pairing returns exactly the four-branch join's
    rows (multiplicity included) and schema, for any mix of duplicate
    keys, unpaired halves, unknown ops, NULL keys and LSN-map misses or
    duplicates, with and without an LSN map."""
    if lsn_map is None:
        rows = _local(spark, cdc, _CDC_ROW_DDL + ", commit_ts timestamp")
        ts_map = None
    else:
        rows = _local(spark, [r[:-1] for r in cdc], _CDC_ROW_DDL)
        ts_map = _local(spark, lsn_map, "lsn long, commit_ts timestamp")
    got = mssql_rows_to_events(rows, ["id", "name"], ts_map)
    want = _four_branch_pairing(rows, ["id", "name"], ts_map)
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_mssql_pairing_one_scan_one_exchange(spark, tmp_path):
    """Over CDC rows in parquet the executed plan scans the rows once,
    shuffles once (the (lsn, seq) grouping) and sort-merges nothing."""
    rows_path, map_path = str(tmp_path / "rows"), str(tmp_path / "map")
    spark.createDataFrame(
        [r[:-1] for r in _ALL_SHAPES], _CDC_ROW_DDL
    ).write.parquet(rows_path)
    spark.createDataFrame(
        [(1, _T1), (2, _T2)], "lsn long, commit_ts timestamp"
    ).write.parquet(map_path)
    events = mssql_rows_to_events(
        spark.read.parquet(rows_path), ["id", "name"], spark.read.parquet(map_path)
    )
    assert events.count() == 8
    events.write.format("noop").mode("overwrite").save()
    plan = events._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    text = plan.toString()
    scans = [ln for ln in text.splitlines() if "FileScan" in ln]
    assert sum(rows_path in ln for ln in scans) == 1, text
    assert text.count("hashpartitioning") == 1, text
    assert "SortMergeJoin" not in text, text


def test_csv_json_event_roundtrip(spark, cdc_fixture, tmp_path):
    """CSV (images as embedded JSON) and JSON-lines readers reproduce the
    event frame exactly; the changelog built from either matches."""
    from changedatacapture_reporting_spark.operators.changelog import build_changelog
    from changedatacapture_reporting_spark.sources.files import (
        read_cdc_csv,
        read_cdc_json,
        write_cdc_csv,
    )

    src = cdc_fixture.schema["after"].dataType
    expected = build_changelog(cdc_fixture, ["id", "tenant_id"], with_audit_cols=False)

    write_cdc_csv(cdc_fixture, str(tmp_path / "csv"))
    from_csv = read_cdc_csv(spark, str(tmp_path / "csv"), src)
    got_csv = build_changelog(from_csv, ["id", "tenant_id"], with_audit_cols=False)
    assert got_csv.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got_csv).isEmpty()

    cdc_fixture.write.json(str(tmp_path / "json"))
    from_json = read_cdc_json(spark, str(tmp_path / "json"), src)
    got_json = build_changelog(from_json, ["id", "tenant_id"], with_audit_cols=False)
    assert got_json.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got_json).isEmpty()


def test_debezium_parse_and_op_mapping(spark):
    docs = [
        ('{"before": null, "after": {"id": 1, "name": "a", "qty": 2},'
         ' "source": {"lsn": 10, "sequence": 0, "ts_ms": 1704067200000,'
         ' "table": "t"}, "op": "c"}',),
        ('{"before": {"id": 1, "name": "a", "qty": 2},'
         ' "after": {"id": 1, "name": "b", "qty": 2},'
         ' "source": {"lsn": 11, "sequence": 0, "ts_ms": 1704067260000,'
         ' "table": "t"}, "op": "u"}',),
        # snapshot read → insert
        ('{"before": null, "after": {"id": 9, "name": "s", "qty": 0},'
         ' "source": {"lsn": 1, "sequence": 0, "ts_ms": 1704067100000,'
         ' "table": "t"}, "op": "r"}',),
        ("this is not json",),
    ]
    df = spark.createDataFrame(docs, "value string")
    events = parse_debezium(df, "value", SRC)
    got = {r.lsn: r for r in events.collect()}
    assert set(got) == {10, 11, 1}  # malformed doc dropped
    assert got[10].op == "insert" and got[10].after.name == "a"
    assert got[11].op == "update" and got[11].before.name == "a"
    assert got[1].op == "insert"  # snapshot 'r'
    assert got[10].commit_ts == dt.datetime(2024, 1, 1, 0, 0)


def test_delta_cdf_pairing_and_roundtrip(spark):
    """CDF convention rows (update pre/post pairs sharing a commit
    version) re-pair into engine events via ONE aggregation — and the
    events→CDF→events round trip is lossless."""
    import datetime as dt

    from changedatacapture_reporting_spark.sources.delta_cdf import (
        cdf_rows_to_events,
        events_to_cdf_rows,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        # insert of pk 1 at version 5
        (1, "a", 10, "insert", 5, t0),
        # update of pk 2 at version 6: preimage + postimage
        (2, "b", 20, "update_preimage", 6, t0),
        (2, "b2", 21, "update_postimage", 6, t0),
        # delete of pk 3 at version 7
        (3, "c", 30, "delete", 7, t0),
        # same pk updated again in a later version — distinct event
        (2, "b2", 21, "update_preimage", 8, t0),
        (2, "b3", 22, "update_postimage", 8, t0),
    ]
    cdf = spark.createDataFrame(
        rows,
        "id int, name string, qty int, _change_type string,"
        " _commit_version long, _commit_timestamp timestamp",
    )
    events = cdf_rows_to_events(cdf, ["id"], ["id", "name", "qty"], "t")
    got = {(r.lsn, r.before.id if r.before else None,
            r.after.id if r.after else None): r for r in events.collect()}
    assert len(got) == 4
    ins = next(r for r in got.values() if r.op == "insert")
    assert ins.before is None and ins.after.name == "a" and ins.lsn == 5
    dele = next(r for r in got.values() if r.op == "delete")
    assert dele.after is None and dele.before.qty == 30
    upd6 = next(r for r in got.values() if r.op == "update" and r.lsn == 6)
    assert (upd6.before.name, upd6.after.name) == ("b", "b2")
    upd8 = next(r for r in got.values() if r.op == "update" and r.lsn == 8)
    assert (upd8.before.qty, upd8.after.qty) == (21, 22)

    # pairing must be join-free: one shuffle (HashAggregate), no SortMergeJoin
    plan = events._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan

    # lossless inverse
    back = cdf_rows_to_events(
        events_to_cdf_rows(events), ["id"], ["id", "name", "qty"], "t"
    )
    assert sorted(map(str, back.collect())) == sorted(map(str, events.collect()))


def test_orc_event_roundtrip(spark, cdc_fixture, tmp_path):
    """ORC reader/writer round-trips the event frame (nested structs
    carried natively) and the changelog built from it matches."""
    from changedatacapture_reporting_spark.operators.changelog import build_changelog
    from changedatacapture_reporting_spark.sources.files import (
        read_cdc_orc,
        write_cdc_orc,
    )

    src = cdc_fixture.schema["after"].dataType
    expected = build_changelog(cdc_fixture, ["id", "tenant_id"], with_audit_cols=False)

    write_cdc_orc(cdc_fixture, str(tmp_path / "orc"))
    from_orc = read_cdc_orc(spark, str(tmp_path / "orc"), src)
    got = build_changelog(from_orc, ["id", "tenant_id"], with_audit_cols=False)
    assert got.exceptAll(expected).isEmpty()
    assert expected.exceptAll(got).isEmpty()


def test_delta_cdf_same_commit_delete_insert(spark):
    """A Delta MERGE may delete and re-insert one key in ONE commit; the
    pairing must emit BOTH events in order (delete seq 0, insert seq 1)
    so reconstruct_state's delete→re-insert epoch reset fires — not
    collapse them into a lone insert. The pair also survives the
    events→CDF→events round trip."""
    import datetime as dt

    from changedatacapture_reporting_spark.sources.delta_cdf import (
        cdf_rows_to_events,
        events_to_cdf_rows,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (1, "old", 10, "delete", 5, t0),
        (1, "new", 99, "insert", 5, t0),
        (2, "b", 20, "insert", 5, t0),  # unrelated plain insert, same commit
    ]
    cdf = spark.createDataFrame(
        rows,
        "id int, name string, qty int, _change_type string,"
        " _commit_version long, _commit_timestamp timestamp",
    )
    events = cdf_rows_to_events(cdf, ["id"], ["id", "name", "qty"], "t")
    got = sorted(events.collect(), key=lambda r: (r.lsn, r.before is None, r.seq))
    pk1 = [r for r in got if (r.before or r.after).id == 1]
    assert [(r.op, r.seq) for r in pk1] == [("delete", 0), ("insert", 1)]
    assert pk1[0].before.name == "old" and pk1[0].after is None
    assert pk1[1].after.qty == 99 and pk1[1].before is None
    pk2 = [r for r in got if (r.before or r.after).id == 2]
    assert [(r.op, r.seq) for r in pk2] == [("insert", 0)]

    back = cdf_rows_to_events(
        events_to_cdf_rows(events), ["id"], ["id", "name", "qty"], "t"
    )
    assert sorted(map(str, back.collect())) == sorted(map(str, events.collect()))


def test_delta_cdf_malformed_groups_raise(spark):
    """One-(commit,pk) groups outside the CDF grammar (dup inserts,
    unpaired preimage, unknown change type) raise at execution instead of
    silently dropping or mis-pairing rows."""
    import datetime as dt

    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from changedatacapture_reporting_spark.sources.delta_cdf import (
        cdf_rows_to_events,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "id int, name string, qty int, _change_type string,"
        " _commit_version long, _commit_timestamp timestamp"
    )
    bad_shapes = [
        [(1, "a", 1, "insert", 5, t0), (1, "b", 2, "insert", 5, t0)],
        [(1, "a", 1, "update_preimage", 5, t0)],
        [(1, "a", 1, "update_postimage", 5, t0),
         (1, "a", 1, "insert", 5, t0),
         (1, "a", 1, "update_preimage", 5, t0)],
        [(1, "a", 1, "upsert", 5, t0)],  # unknown _change_type
    ]
    for rows in bad_shapes:
        df = spark.createDataFrame(rows, schema)
        with pytest.raises(SparkRuntimeException, match="unexpected change-row"):
            cdf_rows_to_events(df, ["id"], ["id", "name", "qty"], "t").collect()


def _mk_events_v1(spark):
    import datetime as dt

    from changedatacapture_reporting_spark.schema import cdc_event_schema

    src_v1 = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("qty", T.IntegerType()),
        ]
    )
    ts = dt.datetime(2024, 1, 1, 10, 0)
    ev = spark.createDataFrame(
        [
            (1, 0, ts, "insert", "t", None, (1, "a", 10)),
            (2, 0, ts, "update", "t", (1, "a", 10), (1, "b", 11)),
        ],
        cdc_event_schema(src_v1),
    )
    return src_v1, ev


V2_ADDED = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("qty", T.IntegerType()),
        T.StructField("score", T.DoubleType()),  # new column appears
    ]
)
V2_DROPPED = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),  # qty dropped
    ]
)


def _assert_evolved_reads(reader, spark, path):
    """Old files + NEW source struct: added column reads as NULL in both
    images; dropped column vanishes without error — no rewrite of
    historical files (the 100 TB schema-drift story: explicit schemas
    absorb drift at read time)."""
    up = lambda df: df.filter(F.col("op") == "update").head()  # noqa: E731

    added = reader(spark, path, V2_ADDED)
    r = up(added)
    assert r.after.name == "b" and r.after.qty == 11
    assert r.before.score is None and r.after.score is None

    dropped = reader(spark, path, V2_DROPPED)
    r = up(dropped)
    assert r.after.asDict() == {"id": 1, "name": "b"}
    assert "qty" not in dropped.schema["after"].dataType.fieldNames()


def test_json_reader_schema_evolution(spark, tmp_path):
    from changedatacapture_reporting_spark.sources.files import read_cdc_json

    _, ev = _mk_events_v1(spark)
    p = str(tmp_path / "json")
    ev.write.mode("overwrite").json(p)
    _assert_evolved_reads(read_cdc_json, spark, p)


def test_csv_reader_schema_evolution(spark, tmp_path):
    from changedatacapture_reporting_spark.sources.files import (
        read_cdc_csv,
        write_cdc_csv,
    )

    _, ev = _mk_events_v1(spark)
    p = str(tmp_path / "csv")
    write_cdc_csv(ev, p)
    _assert_evolved_reads(read_cdc_csv, spark, p)


def test_orc_reader_schema_evolution(spark, tmp_path):
    from changedatacapture_reporting_spark.sources.files import (
        read_cdc_orc,
        write_cdc_orc,
    )

    _, ev = _mk_events_v1(spark)
    p = str(tmp_path / "orc")
    write_cdc_orc(ev, p)
    _assert_evolved_reads(read_cdc_orc, spark, p)


def test_debezium_tagged_dlq_classification(spark):
    """Every reject reason routes correctly; an update WITHOUT a before
    image (partial REPLICA IDENTITY) is well-formed; the permissive
    parse_debezium keeps historic behavior (missing-image passes)."""
    from pyspark.sql import types as T

    from changedatacapture_reporting_spark.sources.debezium import (
        debezium_events,
        debezium_rejects,
        parse_debezium,
        parse_debezium_tagged,
    )

    src = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    good = '{"after":{"id":1,"v":"a"},"source":{"lsn":10,"ts_ms":0,"table":"t"},"op":"c"}'
    upd_no_before = '{"after":{"id":1,"v":"b"},"source":{"lsn":11,"ts_ms":0,"table":"t"},"op":"u"}'
    docs = [
        (good,),
        (upd_no_before,),
        ('not json at all',),                                    # unparseable
        ('{}',),                                                 # unknown-op
        ('{"after":{"id":2,"v":"c"},"source":{"ts_ms":0,"table":"t"},"op":"c"}',),  # missing-lsn
        ('{"source":{"lsn":12,"ts_ms":0,"table":"t"},"op":"c"}',),  # insert w/o after
        ('{"source":{"lsn":13,"ts_ms":0,"table":"t"},"op":"d"}',),  # delete w/o before
    ]
    df = spark.createDataFrame(docs, "value string")
    tagged = parse_debezium_tagged(df, "value", src)
    reasons = [r.reject_reason for r in tagged.collect()]
    assert reasons == [
        None,
        None,
        "unparseable",
        "unknown-op",
        "missing-lsn",
        "missing-image",
        "missing-image",
    ]
    assert debezium_events(tagged).count() == 2
    rejects = {r.raw_value: r.reject_reason for r in debezium_rejects(tagged).collect()}
    assert len(rejects) == 5 and rejects["not json at all"] == "unparseable"
    # permissive form: good + update-without-before + the two
    # missing-image docs (historic behavior)
    assert parse_debezium(df, "value", src).count() == 4


def test_kafka_tombstones_are_dropped_not_dead_lettered(spark):
    """A NULL-value Kafka record is a Debezium tombstone (one follows
    every delete on a compacted topic): it must appear in NEITHER the
    event stream NOR the dead-letter queue — a DLQ with one false
    positive per delete buries real poison records."""
    from changedatacapture_reporting_spark.sources.kafka import (
        KAFKA_RECORD_SCHEMA,
        kafka_dead_letters,
        kafka_debezium_events,
        kafka_events,
    )

    good = (
        b'{"op":"d","ts_ms":1,"before":{"id":1,"v":"a"},"after":null,'
        b'"source":{"lsn":7,"sequence":0,"table":"t","ts_ms":1}}'
    )
    rows = [
        (b"k1", good, "cdc.t", 0, 100, None, 0),
        (b"k1", None, "cdc.t", 0, 101, None, 0),   # tombstone after delete
        (b"k2", b"not json {", "cdc.t", 0, 102, None, 0),  # real poison
    ]
    records = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    src = T.StructType(
        [T.StructField("id", T.IntegerType()),
         T.StructField("v", T.StringType())]
    )
    tagged = kafka_debezium_events(records, src)
    by_reason = {
        r["reject_reason"]: r["n"]
        for r in tagged.groupBy("reject_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_reason == {None: 1, "tombstone": 1, "unparseable": 1}
    assert kafka_events(tagged).count() == 1
    dlq = kafka_dead_letters(tagged).collect()
    assert len(dlq) == 1 and dlq[0]["reject_reason"] == "unparseable"
    assert dlq[0]["offset"] == 102  # the replay address survives


def test_mssql_rows_hostile_names_through_populate(spark, tmp_path):
    """Image columns named ``a`b``, ``x.y``, ``has space`` and ``it's``
    and a table named ``o'brien`` pair into exact events, and the table
    resumes through the populate watermark map: a second run loads only
    what lies past its first run's LSN."""
    from changedatacapture_reporting_spark.operators.populate import (
        populate_changelog,
    )
    from changedatacapture_reporting_spark.sources.delta_table import read_delta

    def lsn(n):
        return "0x" + "0" * 19 + str(n)

    cols = ["id", "a`b", "x.y", "has space", "it's"]
    rows = [
        (lsn(1), 0, 2, 0, "o'brien", 1, "p", "q", None, "it's"),
        (lsn(1), 1, 2, 0, "plain", 7, "u", "v", "w", None),
        (lsn(2), 0, 3, 0, "o'brien", 1, "p", "q", None, "it's"),
        (lsn(2), 0, 4, 0, "o'brien", 1, "p2", "q", "now", "it's"),
        (lsn(3), 0, 1, 0, "o'brien", 1, "p2", "q", "now", "it's"),
        (lsn(3), 1, 3, 0, "plain", 7, "u", "v", "w", None),
        (lsn(3), 1, 4, 0, "plain", 7, "u", "v2", "w", None),
    ]
    schema = (
        "`__$start_lsn` string, `__$seqval` long, `__$operation` int,"
        " `__$update_mask` long, table_name string, id int, `a``b` string,"
        " `x.y` string, `has space` string, `it's` string"
    )
    ts_map = spark.createDataFrame(
        [(n, dt.datetime(2024, 1, n)) for n in (1, 2, 3)],
        "lsn long, commit_ts timestamp",
    )
    events = mssql_rows_to_events(
        spark.createDataFrame(rows, schema), cols, ts_map
    )
    assert events.schema["after"].dataType.fieldNames() == cols
    got = sorted(
        (r.lsn, r.seq, r.op, r.table_name,
         r.before and tuple(r.before), r.after and tuple(r.after))
        for r in events.collect()
    )
    v1 = (1, "p", "q", None, "it's")
    v2 = (1, "p2", "q", "now", "it's")
    assert got == [
        (1, 0, "insert", "o'brien", None, v1),
        (1, 1, "insert", "plain", None, (7, "u", "v", "w", None)),
        (2, 0, "update", "o'brien", v1, v2),
        (3, 0, "delete", "o'brien", v2, None),
        (3, 1, "update", "plain", (7, "u", "v", "w", None),
         (7, "u", "v2", "w", None)),
    ]

    sink = str(tmp_path / "sink")
    kw = dict(maintain_rollup=False, sink_format="delta")
    first = populate_changelog(spark, events, sink, ["id"], to_lsn=2, **kw)
    assert first.rows_changed == 4  # 2 insert markers + 2 changed columns
    second = populate_changelog(spark, events, sink, ["id"], **kw)
    assert second.from_lsn == 2
    assert second.rows_changed == 2  # the delete marker + x.y of 'plain'
    out = sorted((
        (r.lsn, r.table_name, r.column_name, r.old_value, r.new_value)
        for r in read_delta(spark, sink).collect()
    ), key=repr)
    assert out == sorted(
        [
            (1, "o'brien", None, None, "NEW RECORD"),
            (1, "plain", None, None, "NEW RECORD"),
            (2, "o'brien", "a`b", "p", "p2"),
            (2, "o'brien", "has space", None, "now"),
            (3, "o'brien", None, "DELETED RECORD", None),
            (3, "plain", "x.y", "v", "v2"),
        ],
        key=repr,
    )
    # a rerun finds nothing past either table's watermark
    again = populate_changelog(spark, events, sink, ["id"], **kw)
    assert again.rows_changed == 0

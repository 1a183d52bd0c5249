"""r15 key-bounds stats pre-prune for the key-targeted commands
(DELETE / MERGE discovery): on large tables, files whose committed
[min,max] pk range provably contains no key are dropped BEFORE the
pk + row-position discovery scan is planned (guide §3.2/§6). These
tests pin: (a) the prune itself (kept/pruned file sets, the all-NULL
and empty-key degenerate cases, the below-threshold bypass), and
(b) end-to-end equality — a pruned DELETE/MERGE commits exactly what
the unpruned one does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.sources import delta_table as dt
from changedatacapture_reporting_spark.sources.delta_table import (
    _prune_adds_by_key_bounds,
    _resolve_log,
    delete_delta,
    merge_delta,
    read_delta,
    write_delta,
)


def _mk_ranged(spark, path, n_files=8, rows_per=10):
    """n_files appends with DISJOINT id ranges (file k holds
    [k*rows_per, (k+1)*rows_per)), one file each — the pk-clustered
    layout the prune is built for."""
    for k in range(n_files):
        rows = [
            (k * rows_per + i, (k * rows_per + i) * 10, f"g{k % 3}")
            for i in range(rows_per)
        ]
        write_delta(
            spark,
            spark.createDataFrame(rows, "id int, v int, p string")
            .repartition(1),
            path,
        )


def _state(spark, path):
    st = _resolve_log(spark, path, None)
    return st["meta"], list(st["files"].values())


def _schema(meta):
    import json

    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def test_prune_keeps_only_overlapping_files(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
    path = str(tmp_path / "t")
    _mk_ranged(spark, path)
    meta, adds = _state(spark, path)
    keys = spark.createDataFrame([(12,), (17,)], "id int")
    kept, pruned = _prune_adds_by_key_bounds(
        spark, adds, keys, ["id"], meta, _schema(meta)
    )
    # ids 12 and 17 live in file 1 only ([10, 20))
    assert len(kept) == 1 and pruned == 7
    # a key span crossing two files keeps exactly those two
    keys2 = spark.createDataFrame([(5,), (25,)], "id int")
    kept2, pruned2 = _prune_adds_by_key_bounds(
        spark, adds, keys2, ["id"], meta, _schema(meta)
    )
    # range-overlap prune: [5, 25] overlaps files 0, 1, 2
    assert len(kept2) == 3 and pruned2 == 5


def test_prune_degenerate_keys(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
    path = str(tmp_path / "t")
    _mk_ranged(spark, path, n_files=4)
    meta, adds = _state(spark, path)
    schema = _schema(meta)
    # all-NULL key column: the null-unsafe join can match nothing
    keys_null = spark.createDataFrame(
        [(None,), (None,)], "id int"
    )
    kept, pruned = _prune_adds_by_key_bounds(
        spark, adds, keys_null, ["id"], meta, schema
    )
    assert kept == [] and pruned == 4
    # empty key frame: same
    kept_e, pruned_e = _prune_adds_by_key_bounds(
        spark, adds, keys_null.limit(0), ["id"], meta, schema
    )
    assert kept_e == [] and pruned_e == 4
    # below the file-count threshold: bypass — everything kept, no job
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 64)
    kept_b, pruned_b = _prune_adds_by_key_bounds(
        spark, adds, keys_null, ["id"], meta, schema
    )
    assert kept_b == adds and pruned_b == 0


def test_prune_unsafe_type_bypasses(spark, tmp_path, monkeypatch):
    """float/double pk columns contribute no conjunct (NaN ordering) —
    a single-column float pk bypasses the prune entirely."""
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 1)
    path = str(tmp_path / "t")
    write_delta(
        spark,
        spark.createDataFrame([(1.5, 1), (2.5, 2)], "fk double, v int")
        .repartition(1),
        path,
    )
    meta, adds = _state(spark, path)
    keys = spark.createDataFrame([(99.0,)], "fk double")
    kept, pruned = _prune_adds_by_key_bounds(
        spark, adds, keys, ["fk"], meta, _schema(meta)
    )
    assert kept == adds and pruned == 0


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_delete_with_prune_equals_without(spark, tmp_path, monkeypatch):
    a, b = str(tmp_path / "A"), str(tmp_path / "B")
    _mk_ranged(spark, a)
    _mk_ranged(spark, b)
    keys = spark.createDataFrame([(12,), (13,), (17,)], "id int")

    probe: dict = {}
    dt._PLAN_PROBE = probe
    try:
        monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
        ra = delete_delta(spark, a, keys, deletion_vectors=True)
        pruned_a = dict(probe["delete_key_prune"])
        monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 999)
        rb = delete_delta(spark, b, keys, deletion_vectors=True)
    finally:
        dt._PLAN_PROBE = None
    assert pruned_a["pruned"] == 7
    assert probe["delete_key_prune"]["pruned"] == 0  # bypassed on B
    assert ra["rows_deleted"] == rb["rows_deleted"] == 3
    assert _rows(read_delta(spark, a)) == _rows(read_delta(spark, b))


def test_delete_prune_whole_table_miss(spark, tmp_path, monkeypatch):
    """Keys entirely outside every file's range: nothing scanned,
    nothing deleted, no commit."""
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
    path = str(tmp_path / "t")
    _mk_ranged(spark, path)
    before = _rows(read_delta(spark, path))
    res = delete_delta(
        spark,
        path,
        spark.createDataFrame([(10_000,)], "id int"),
    )
    assert res["version"] is None and res["rows_deleted"] == 0
    assert _rows(read_delta(spark, path)) == before


def test_merge_with_prune_equals_without(spark, tmp_path, monkeypatch):
    a, b = str(tmp_path / "A"), str(tmp_path / "B")
    _mk_ranged(spark, a)
    _mk_ranged(spark, b)
    # update id 12, insert id 500 (outside every range), delete id 17
    mrg = spark.createDataFrame(
        [(12, 999, "g0", False), (500, 5, "gX", False),
         (17, 0, "g2", True)],
        "id int, v int, p string, _del boolean",
    )
    probe: dict = {}
    dt._PLAN_PROBE = probe
    try:
        monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
        ra = merge_delta(spark, mrg, a, ["id"], delete_col="_del")
        pruned_a = dict(probe["merge_key_prune"])
        monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 999)
        rb = merge_delta(spark, mrg, b, ["id"], delete_col="_del")
    finally:
        dt._PLAN_PROBE = None
    # keys span [12, 500] → file 0 ([0,10)) is range-disjoint; the
    # insert key 500 widens the range but prunable files stay pruned
    assert pruned_a["pruned"] >= 1
    assert ra["rows_upserted"] == rb["rows_upserted"] == 2
    assert ra["rows_deleted"] == rb["rows_deleted"] == 1
    assert _rows(read_delta(spark, a)) == _rows(read_delta(spark, b))


def test_merge_dv_with_prune_equals_without(spark, tmp_path, monkeypatch):
    a, b = str(tmp_path / "A"), str(tmp_path / "B")
    _mk_ranged(spark, a)
    _mk_ranged(spark, b)
    mrg = spark.createDataFrame(
        [(12, 999, "g0", False), (71, 711, "g2", False),
         (17, 0, "g2", True)],
        "id int, v int, p string, _del boolean",
    )
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 4)
    ra = merge_delta(
        spark, mrg, a, ["id"], delete_col="_del", deletion_vectors=True
    )
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 999)
    rb = merge_delta(
        spark, mrg, b, ["id"], delete_col="_del", deletion_vectors=True
    )
    assert ra["rows_upserted"] == rb["rows_upserted"] == 2
    assert ra["rows_deleted"] == rb["rows_deleted"] == 1
    assert _rows(read_delta(spark, a)) == _rows(read_delta(spark, b))


def test_prune_respects_partition_values(spark, tmp_path, monkeypatch):
    """A pk that is a PARTITION column prunes from partitionValues
    (stats carry no entry for partition columns)."""
    monkeypatch.setattr(dt, "_KEY_PRUNE_MIN_FILES", 2)
    path = str(tmp_path / "t")
    rows = [(i, i * 10, i % 4) for i in range(40)]
    write_delta(
        spark,
        spark.createDataFrame(rows, "id int, v int, bucket int"),
        path,
        partition_by=["bucket"],
    )
    meta, adds = _state(spark, path)
    keys = spark.createDataFrame([(3,)], "bucket int")
    kept, pruned = _prune_adds_by_key_bounds(
        spark, adds, keys, ["bucket"], meta, _schema(meta)
    )
    assert pruned >= 1
    assert all(
        (a.get("partitionValues") or {}).get("bucket") == "3"
        for a in kept
    )

"""r15 one-pass OPTIMIZE internals: broadcast slot join (VERDICT r14
#2), verbatim partitionValues stamping and underscore-partition-column
safety (ADVICE r14), and the multi-group ZORDER single pass (VERDICT
r14 #3). Foreign-shaped fixtures are hand-written log JSON so the
writer under test cannot self-verify its own rendering."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark.sources import delta_table as dt
from changedatacapture_reporting_spark.sources.delta_table import (
    _resolve_log,
    optimize_delta,
    prune_adds,
    read_delta,
    write_delta,
)


def _hand_table(base, part_col, dir_values, pv_values, schema_extra=None):
    """A 2-files-per-group hive-laid table whose log partitionValues are
    written INDEPENDENTLY of the dir names (``pv_values`` may use a
    foreign encoding like '01' for dir value '01'). Returns the spark-
    readable base path."""
    import pyspark.sql.functions as SF

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField(part_col, T.IntegerType()),
        ]
    )
    os.makedirs(base + "/_delta_log", exist_ok=True)
    adds = []
    rid = 0
    from changedatacapture_reporting_spark.session import get_spark

    spark = get_spark("tests")
    for dv, pv in zip(dir_values, pv_values):
        for i in range(2):
            df = spark.range(rid * 10, rid * 10 + 10).select(
                SF.col("id"), (SF.col("id") * 3).alias("v")
            )
            df.repartition(1).write.mode("overwrite").parquet(
                base + "/_stage"
            )
            part = [
                p
                for p in os.listdir(base + "/_stage")
                if p.endswith(".parquet")
            ][0]
            os.makedirs(f"{base}/{part_col}={dv}", exist_ok=True)
            rel = f"{part_col}={dv}/f{rid}.parquet"
            os.replace(base + "/_stage/" + part, f"{base}/{rel}")
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {part_col: pv},
                        "size": os.path.getsize(f"{base}/{rel}"),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json.dumps(
                            {
                                "numRecords": 10,
                                "minValues": {
                                    "id": rid * 10,
                                    "v": rid * 30,
                                },
                                "maxValues": {
                                    "id": rid * 10 + 9,
                                    "v": (rid * 10 + 9) * 3,
                                },
                                "nullCount": {"id": 0, "v": 0},
                            }
                        ),
                    }
                }
            )
            rid += 1
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "t-onepass",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": [part_col],
                "configuration": {},
                "createdTime": 0,
            }
        },
    ] + adds
    with open(base + "/_delta_log/00000000000000000000.json", "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return base


def test_one_pass_underscore_partition_column(spark, tmp_path):
    """ADVICE r14: a (foreign) table whose partition column starts with
    '_' must compact without dropping rows — the r14 staging listed
    Spark-rendered ``_x=…`` dirs, which the marker-aware listing
    skipped: no adds promoted, rows silently gone from the commit."""
    base = _hand_table(
        str(tmp_path / "u"), "_date", ["1", "2"], ["1", "2"]
    )
    before = {
        (r["id"], r["v"], r["_date"])
        for r in read_delta(spark, base).collect()
    }
    assert len(before) == 40
    res = optimize_delta(spark, base, target_file_bytes=1 << 30)
    assert res["version"] == 1 and res["files_removed"] == 4
    assert res["files_added"] >= 2  # one compacted file per group
    after = {
        (r["id"], r["v"], r["_date"])
        for r in read_delta(spark, base).collect()
    }
    assert after == before


def test_one_pass_preserves_partition_value_encoding(spark, tmp_path):
    """ADVICE r14: a dataChange=false commit must not re-render foreign
    partitionValues ('01' → '1') — the add is stamped with the
    committed pv VERBATIM, never re-parsed from a staged hive dir."""
    base = _hand_table(
        str(tmp_path / "enc"), "p", ["01", "02"], ["01", "02"]
    )
    before = {
        (r["id"], r["v"]) for r in read_delta(spark, base).collect()
    }
    res = optimize_delta(spark, base, target_file_bytes=1 << 30)
    assert res["version"] == 1
    state = _resolve_log(spark, base, None)
    pvs = sorted(
        a["partitionValues"]["p"] for a in state["files"].values()
    )
    assert pvs == ["01", "02"], pvs  # verbatim, not '1'/'2'
    after = {
        (r["id"], r["v"]) for r in read_delta(spark, base).collect()
    }
    assert after == before


def test_one_pass_slot_map_is_broadcast_join(spark, tmp_path):
    """VERDICT r14 #2: the file→slot map rides a broadcast join, not an
    O(files) create_map literal — the staged-write plan must carry a
    BroadcastHashJoin and no create_map over the slot keys."""
    path = str(tmp_path / "bj")
    df = spark.range(0, 400).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("p"),
    )
    for _ in range(3):  # 3 commits → 3 small files per partition
        write_delta(spark, df, path, partition_by=["p"])
    probe: dict = {}
    dt._PLAN_PROBE = probe
    try:
        res = optimize_delta(spark, path)
    finally:
        dt._PLAN_PROBE = None
    assert res["files_removed"] >= 12  # every small file, all groups
    plan = probe["compact_one_pass"]
    assert "BroadcastHashJoin" in plan, plan
    assert "create_map" not in plan, plan
    assert "ExistingRDD" not in plan, plan  # slot map is a local relation
    assert read_delta(spark, path).count() == 1200


def test_zorder_one_pass_multi_group(spark, tmp_path):
    """VERDICT r14 #3: a multi-group ZORDER runs as ONE pass (broadcast
    per-group quantile tables, one shuffle) — rows identical, per-file
    stats present, and a z-column predicate prunes within partitions."""
    path = str(tmp_path / "zmg")
    df = spark.range(0, 8000).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("p"),
        (F.col("id") * 37 % 1000).cast("long").alias("k"),
        (F.col("id") % 7).cast("long").alias("t"),
    )
    write_delta(spark, df.repartition(8), path, partition_by=["p"])
    before = {
        (r["id"], r["p"], r["k"], r["t"])
        for r in read_delta(spark, path).collect()
    }
    probe: dict = {}
    dt._PLAN_PROBE = probe
    try:
        res = optimize_delta(
            spark, path, target_file_bytes=16 << 10,
            zorder_by=("k", "t"),
        )
    finally:
        dt._PLAN_PROBE = None
    assert res["version"] is not None and res["files_added"] >= 4
    assert "zorder_one_pass" in probe
    assert "BroadcastHashJoin" in probe["zorder_one_pass"]
    # per-group tables are local relations, not Python RDDs
    assert "ExistingRDD" not in probe["zorder_one_pass"]
    after = {
        (r["id"], r["p"], r["k"], r["t"])
        for r in read_delta(spark, path).collect()
    }
    assert after == before
    state = _resolve_log(spark, path, None)
    adds = list(state["files"].values())
    assert all(a.get("stats") for a in adds)
    schema = T.StructType.fromJson(
        json.loads(state["meta"]["schemaString"])
    )
    skip = [("k", "<", 50)]
    kept = len(prune_adds(adds, skip, [], schema))
    assert kept < len(adds), (kept, len(adds))
    got = read_delta(spark, path, skip=skip).count()
    want = read_delta(spark, path).filter(F.col("k") < 50).count()
    assert got == want


def test_one_pass_preserves_input_order(spark, tmp_path):
    """VERDICT r14 "what's wrong" #4: the one-pass hash shuffle used to
    write rows in arrival order, so a compacted multi-row-group file of
    a sorted group lost the intra-file clustering its row-group min/max
    pruning depends on. The per-task (gid, slot, source file, source
    row) sort restores whole-files-concatenated-in-order output — the
    serial coalesce path's shape — as deterministic bytes."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    path = str(tmp_path / "ord")
    # 2 partition groups × 4 single-file commits with ascending,
    # disjoint id ranges per (group, commit)
    for k in range(4):
        rows = [
            (g * 1000 + k * 10 + i, g)
            for g in range(2)
            for i in range(10)
        ]
        write_delta(
            spark,
            spark.createDataFrame(rows, "id int, g int")
            .repartition(1, "g")
            .sortWithinPartitions("id"),
            path,
            partition_by=["g"],
        )
    res = optimize_delta(spark, path, target_file_bytes=1 << 30)
    assert res["version"] is not None and res["files_added"] == 2
    state = _resolve_log(spark, path, None)
    for add in state["files"].values():
        ids = pq.read_table(
            f"{path}/{unquote(add['path'])}", columns=["id"]
        )["id"].to_pylist()
        assert len(ids) == 40
        # whole source files concatenated in COMMITTED (log-replay)
        # order — for this fixture that is ascending id ranges, so the
        # output is one globally ascending run: the layout the serial
        # coalesce path produced for append-mostly time-sorted tables
        g = ids[0] // 1000
        assert ids == list(range(g * 1000, g * 1000 + 40)), ids[:8]

"""Change Data Feed WRITES (public Delta PROTOCOL.md, "Add CDC File"):
on tables configured ``delta.enableChangeDataFeed=true`` this engine's
writers now emit ``_change_data/`` parquet + ``cdc`` actions for every
non-blind-append commit — overwrite, MERGE (update/insert/delete legs),
DELETE in both vector and rewrite modes — and the feed round-trips
through read_delta_cdf as the authoritative record (no derivation).
Vacuum reclaims expired/orphaned change-data files but never a retained
commit's."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from changedatacapture_reporting_spark import fs
from changedatacapture_reporting_spark.sources.delta_table import (
    CDC_DIR,
    delete_delta,
    merge_delta,
    read_delta,
    read_delta_cdf,
    vacuum_delta,
    write_delta,
)


def _enable_cdf(spark, path):
    """Flip delta.enableChangeDataFeed=true in commit 0's metaData —
    the config a real CDF table carries from creation."""
    log = os.path.join(path, "_delta_log")
    cname = f"{0:020d}.json"
    out = []
    for line in fs.read_text(spark, os.path.join(log, cname)).splitlines():
        d = json.loads(line)
        if d.get("metaData"):
            cfg = dict(d["metaData"].get("configuration") or {})
            cfg["delta.enableChangeDataFeed"] = "true"
            d["metaData"]["configuration"] = cfg
        out.append(json.dumps(d))
    os.remove(os.path.join(log, cname))
    fs.write_text(spark, os.path.join(log, cname), "\n".join(out) + "\n")


def _mk_cdf_table(spark, path, rows=((1, 10), (2, 20), (3, 30))):
    write_delta(
        spark,
        spark.createDataFrame(list(rows), "id long, v long")
        .repartition(1),
        path,
    )
    _enable_cdf(spark, path)


def _feed(spark, path, lo, hi=None):
    return sorted(
        (r["id"], r["v"], r["_change_type"], r["_commit_version"])
        for r in read_delta_cdf(spark, path, lo, hi).collect()
    )


def _commit_has_cdc(path, v):
    lines = open(
        os.path.join(path, "_delta_log", f"{v:020d}.json")
    ).read().splitlines()
    return any(json.loads(ln).get("cdc") for ln in lines if ln.strip())


def test_append_stays_blind_overwrite_emits_cdc(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_cdf_table(spark, path)
    # blind append: NO cdc action (readers derive inserts per spec)
    write_delta(
        spark, spark.createDataFrame([(4, 40)], "id long, v long"), path
    )
    assert not _commit_has_cdc(path, 1)
    assert (4, 40, "insert", 1) in _feed(spark, path, 1, 1)
    # overwrite: cdc records every prior row as delete + new as insert
    write_delta(
        spark,
        spark.createDataFrame([(9, 90)], "id long, v long"),
        path,
        mode="overwrite",
    )
    assert _commit_has_cdc(path, 2)
    got = _feed(spark, path, 2, 2)
    assert got == [
        (1, 10, "delete", 2), (2, 20, "delete", 2),
        (3, 30, "delete", 2), (4, 40, "delete", 2),
        (9, 90, "insert", 2),
    ]
    assert {tuple(r) for r in read_delta(spark, path).collect()} == {
        (9, 90)
    }


def test_merge_emits_pre_postimage_pairs(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_cdf_table(spark, path)
    src = spark.createDataFrame(
        [(2, 99, False), (7, 70, False), (3, None, True)],
        "id long, v long, _del boolean",
    )
    res = merge_delta(spark, src, path, ["id"], delete_col="_del")
    v = res["version"]
    assert _commit_has_cdc(path, v)
    got = _feed(spark, path, v, v)
    assert got == [
        (2, 20, "update_preimage", v),
        (2, 99, "update_postimage", v),
        (3, 30, "delete", v),
        (7, 70, "insert", v),
    ]
    # the snapshot agrees with the feed
    assert {tuple(r) for r in read_delta(spark, path).collect()} == {
        (1, 10), (2, 99), (7, 70),
    }


def test_delete_both_modes_emit_exact_rows(spark, tmp_path):
    for mode_dv in (True, False):
        path = str(tmp_path / f"t_{mode_dv}")
        _mk_cdf_table(spark, path)
        res = delete_delta(
            spark, path,
            spark.createDataFrame([(1,), (3,)], "id long"),
            deletion_vectors=mode_dv,
        )
        v = res["version"]
        assert _commit_has_cdc(path, v)
        assert _feed(spark, path, v, v) == [
            (1, 10, "delete", v), (3, 30, "delete", v),
        ], mode_dv
        assert read_delta(spark, path).count() == 1


def test_cdf_on_column_mapped_table(spark, tmp_path):
    """CDF staging translates to physical names like every write path:
    a 'name'-mapped CDF table's change-data files carry physical
    columns; the feed reads back logical."""
    import sys

    sys.path.insert(0, os.path.dirname(__file__))
    from test_column_mapping import (
        _PROTO_25,
        _meta,
        _physical_df,
        _mapped_schema,
        _stage_file,
        _write_log,
    )

    base = str(tmp_path / "t")
    os.makedirs(base, exist_ok=True)
    add = _stage_file(spark, base, _physical_df(spark), "f1.parquet")
    meta = _meta(_mapped_schema())
    meta["metaData"]["configuration"][
        "delta.enableChangeDataFeed"
    ] = "true"
    _write_log(base, [[_PROTO_25, meta, add]])
    delete_delta(
        spark, base, spark.createDataFrame([(1,)], "id long"),
        deletion_vectors=False,
    )
    assert _commit_has_cdc(base, 1)
    rows = read_delta_cdf(spark, base, 1).collect()
    assert len(rows) == 1
    assert rows[0]["id"] == 1 and rows[0]["_change_type"] == "delete"
    assert rows[0]["nested"]["p"] == 10
    # the staged cdc file itself carries PHYSICAL names
    cdc_files = fs.list_data_files(spark, os.path.join(base, CDC_DIR))
    raw = spark.read.parquet(
        os.path.join(base, CDC_DIR, cdc_files[0])
    )
    assert "col-aaa" in raw.columns and "_change_type" in raw.columns


def test_vacuum_reclaims_expired_cdc_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_cdf_table(spark, path)
    delete_delta(
        spark, path, spark.createDataFrame([(1,)], "id long")
    )  # v1: cdc
    write_delta(
        spark, spark.createDataFrame([(5, 50)], "id long, v long"), path
    )  # v2
    delete_delta(
        spark, path, spark.createDataFrame([(5,)], "id long")
    )  # v3: cdc
    # an orphan in _change_data (lost-race staging debris)
    orphan = os.path.join(path, CDC_DIR, "cdc-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    # full retention: orphan reclaimed, both commits' cdc kept
    res = vacuum_delta(spark, path, orphan_min_age_minutes=0)
    assert f"{CDC_DIR}/cdc-orphan.parquet" in str(res) or not os.path.exists(
        orphan
    )
    assert _feed(spark, path, 1, 1)[0][2] == "delete"
    assert _feed(spark, path, 3, 3)[0][2] == "delete"
    # retain only the newest version: v1's cdc reclaimed with it — but
    # its commit json survives (log cleanup is separate), so the FEED
    # refuses... the reclaim is about storage; assert the file is gone
    from changedatacapture_reporting_spark.sources.delta_table import (
        write_checkpoint,
    )

    write_checkpoint(spark, path)
    for v in (0, 1, 2):
        os.remove(os.path.join(path, "_delta_log", f"{v:020d}.json"))
    vacuum_delta(spark, path, retain_versions=1, orphan_min_age_minutes=0)
    survivors = fs.list_data_files(spark, os.path.join(path, CDC_DIR))
    # only v3's cdc files survive (v1's json expired → unreachable)
    assert survivors
    assert _feed(spark, path, 3, 3)[0][2] == "delete"
    with pytest.raises(ValueError, match="change feed"):
        read_delta_cdf(spark, path, 1, 1)


def test_cdf_on_partitioned_table(spark, tmp_path):
    """A partitioned table's change-data files sit in hive dirs under
    ``_change_data/``; the feed reads exactly the commit's files from
    there, never a stray file beside them."""
    path = str(tmp_path / "t")
    schema = "id long, v long, p string"
    write_delta(
        spark,
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], schema),
        path,
        partition_by=["p"],
    )
    _enable_cdf(spark, path)
    write_delta(
        spark,
        spark.createDataFrame([(9, 90, "a")], schema),
        path,
        mode="overwrite",
        partition_by=["p"],
    )
    assert _commit_has_cdc(path, 1)
    assert sorted(os.listdir(os.path.join(path, CDC_DIR))) == ["p=a", "p=b"]
    with open(os.path.join(path, CDC_DIR, "p=a", "cdc-stray.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    assert _feed(spark, path, 1, 1) == [
        (1, 10, "delete", 1), (2, 20, "delete", 1), (9, 90, "insert", 1),
    ]

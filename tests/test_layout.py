"""Z-order layout + key-skew profiling tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.operators.layout import (
    morton_interleave,
    write_zordered,
    zorder_bucket_stats,
)
from changedatacapture_reporting_spark.operators.profile import key_skew


def _ref_morton(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_interleave_matches_reference(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 5, 511, 1023) for y in (0, 1, 7, 1023)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", morton_interleave(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _ref_morton(x, y, 10), (x, y)
    # x fills even bit positions, y odd: (1023, 0) and (0, 1023) disjoint
    assert got[(1023, 0)] & got[(0, 1023)] == 0
    assert got[(1023, 0)] | got[(0, 1023)] == (1 << 20) - 1

    with pytest.raises(ValueError):
        morton_interleave(F.col("x"), F.col("y"), bits=0)
    with pytest.raises(ValueError):
        morton_interleave(F.col("x"), F.col("y"), bits=32)


def test_zorder_bucket_stats_tightness(spark):
    # a 32x32 grid: under z-order, every one of the 16 top-bit buckets
    # must be a contiguous quadrant — bounding boxes 16x16 at most,
    # versus a full-width 1024-row stripe under a single-column sort
    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    stats = zorder_bucket_stats(
        grid, F.col("x"), F.col("y"), bits=5, n_buckets=16
    ).collect()
    assert len(stats) == 16
    assert sum(r.n_rows for r in stats) == 1024
    for r in stats:
        assert r.max_x - r.min_x <= 15, r
        assert r.max_y - r.min_y <= 15, r

    with pytest.raises(ValueError):
        zorder_bucket_stats(grid, F.col("x"), F.col("y"), n_buckets=12)


def test_write_zordered_files_are_tight(spark, tmp_path):
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zordered")
    write_zordered(grid, path, F.col("x"), F.col("y"), bits=6, n_files=16)
    per_file = (
        spark.read.parquet(path)
        .select(
            F.input_file_name().alias("f"),
            "x",
            "y",
        )
        .groupBy("f")
        .agg(
            F.count("*").alias("n"),
            (F.max("x") - F.min("x")).alias("span_x"),
            (F.max("y") - F.min("y")).alias("span_y"),
        )
        .collect()
    )
    assert sum(r.n for r in per_file) == 4096
    assert len(per_file) > 1
    # every file's bounding box must be tight in BOTH dims — far under
    # the 63 a single-dimension sort leaves in the other column. Range
    # boundaries are sampled, so allow a quadrant of slack.
    for r in per_file:
        assert r.span_x <= 32, r
        assert r.span_y <= 32, r


def test_key_skew_exact(spark):
    df = spark.createDataFrame(
        [(k,) for k in [1] * 50 + [2] * 30 + [3] * 15 + [4] * 5],
        "k long",
    )
    rows = key_skew(df, "k", top_n=3).collect()
    assert [(r.key, r.n_rows, r.rank) for r in rows] == [
        (1, 50, 1),
        (2, 30, 2),
        (3, 15, 3),
    ]
    assert all(r.total_rows == 100 and r.n_keys == 4 for r in rows)
    # deterministic tie-break: equal counts rank by key ascending
    ties = spark.createDataFrame(
        [(k,) for k in [10, 20, 30] * 2], "k long"
    )
    trows = key_skew(ties, "k", top_n=2).collect()
    assert [(r.key, r.rank) for r in trows] == [(10, 1), (20, 2)]


def test_join_cardinality_exact(spark):
    from changedatacapture_reporting_spark.operators.profile import (
        join_cardinality,
    )

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 9]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 4]], "k long"
    )
    r = join_cardinality(left, "k", right, "k").head()
    assert (r.n_left, r.d_left, r.n_right, r.d_right) == (7, 4, 4, 3)
    # matched keys {1, 2}: 3*2 + 2*1 = 8 output rows, max single key 6
    assert (r.d_matched, r.out_rows, r.max_key_out) == (2, 8, 6)
    assert r.out_rows == left.join(right, "k").count()

    empty = spark.createDataFrame([], "k long")
    r2 = join_cardinality(left, "k", empty, "k").head()
    assert (r2.d_matched, r2.out_rows, r2.max_key_out) == (0, 0, 0)


def test_optimize_delta_zorder_two_dimensional_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER BY over a Delta table: rows identical, live
    deletion vectors purged, and the committed stats become tight
    enough that BOTH dimensions' skip predicates prune files — the
    property a single-column sort cannot deliver."""
    import datetime
    import json as _json

    from pyspark.sql import types as T

    from changedatacapture_reporting_spark.sources.delta_table import (
        _resolve_log,
        delete_delta,
        optimize_delta,
        prune_adds,
        read_delta,
        write_delta,
    )

    orders = spark.read.parquet(
        "/root/testdata/sf0.01/orders.parquet"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    path = str(tmp_path / "zt")
    write_delta(spark, orders.repartition(8), path)
    delete_delta(
        spark, path,
        orders.filter(F.col("o_orderkey") % 777 == 3).select("o_orderkey"),
    )
    before = read_delta(spark, path).count()

    res = optimize_delta(
        spark, path, target_file_bytes=32 << 10,
        zorder_by=("o_custkey", "o_orderdate"),
    )
    assert res["version"] is not None and res["files_added"] >= 4

    state = _resolve_log(spark, path, None)
    adds = list(state["files"].values())
    assert not any(a.get("deletionVector") for a in adds)  # purged
    assert read_delta(spark, path).count() == before

    schema = T.StructType.fromJson(
        _json.loads(state["meta"]["schemaString"])
    )
    for skip in (
        [("o_custkey", "<", 100)],
        [("o_orderdate", ">=", datetime.date(1998, 6, 1))],
    ):
        kept = len(prune_adds(adds, skip, [], schema))
        assert kept < len(adds), (skip, kept, len(adds))
        # and the skip-read equals the plain filter on the new layout
        got = read_delta(spark, path, skip=skip).count()
        c, op, v = skip[0]
        want = read_delta(spark, path).filter(
            F.col(c) < v if op == "<" else F.col(c) >= v
        ).count()
        assert got == want


def test_optimize_delta_zorder_rejects_bad_columns(spark, tmp_path):
    """ZORDER validation: unknown columns, partition columns (constant
    per file) and non-orderable types fail loudly before any rewrite."""
    import pytest as _pytest

    from changedatacapture_reporting_spark.sources.delta_table import (
        optimize_delta,
        write_delta,
    )

    path = str(tmp_path / "zv")
    df = spark.createDataFrame(
        [(1, 1.0, "a", "x"), (2, 2.0, "b", "y")],
        "id int, v double, s string, p string",
    )
    write_delta(spark, df, path, partition_by=["p"])
    with _pytest.raises(ValueError, match="not in schema"):
        optimize_delta(spark, path, zorder_by=("id", "nope"))
    with _pytest.raises(ValueError, match="partition column"):
        optimize_delta(spark, path, zorder_by=("id", "p"))
    with _pytest.raises(ValueError, match="unsupported type"):
        optimize_delta(spark, path, zorder_by=("id", "s"))


def test_optimize_delta_zorder_tolerates_all_null_files(spark, tmp_path):
    """A file whose z-column is entirely NULL has stats but no min/max
    entry for it — that is data, not missing stats: ZORDER must proceed
    (those rows cluster in bucket 0) and keep every row, NULLs included."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    path = str(tmp_path / "zn")
    a = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "id int, v double"
    )
    b = spark.createDataFrame(  # v all-NULL in this file
        [(4, None), (5, None)], "id int, v double"
    )
    write_delta(spark, a.repartition(1), path)
    write_delta(spark, b.repartition(1), path)
    res = optimize_delta(spark, path, zorder_by=("id", "v"))
    assert res["version"] is not None
    rows = {(r["id"], r["v"]) for r in read_delta(spark, path).collect()}
    assert rows == {(1, 10.0), (2, 20.0), (3, None), (4, None), (5, None)}


def _skewed(spark, n):
    """``id``, a power-law ``k`` (99% of rows in [0, 100), a thin tail
    out to 10^9) and a small cyclic ``t``."""
    return spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 100 < 99, F.col("id") % 100)
        .otherwise((F.col("id") % 1000) * 1_000_000)
        .cast("long")
        .alias("k"),
        (F.col("id") % 7).cast("long").alias("t"),
    )


def _k_lt_5_probe(spark, path):
    """(files a ``k < 5`` probe keeps, live files, rows in the kept
    files) of a Delta table, after checking the skipped read equals the
    filtered one."""
    import json as _json

    from pyspark.sql import types as T

    from changedatacapture_reporting_spark.sources.delta_table import (
        _resolve_log,
        prune_adds,
        read_delta,
    )

    state = _resolve_log(spark, path, None)
    adds = list(state["files"].values())
    schema = T.StructType.fromJson(_json.loads(state["meta"]["schemaString"]))
    skip = [("k", "<", 5)]  # narrow probe inside the hot region
    got = read_delta(spark, path, skip=skip).count()
    want = read_delta(spark, path).filter(F.col("k") < 5).count()
    assert got == want  # skipping is still exactly the filter
    kept = prune_adds(adds, skip, [], schema)
    rows = sum(_json.loads(a["stats"])["numRecords"] for a in kept)
    return len(kept), len(adds), rows


def test_optimize_delta_zorder_sampled_beats_linear_on_skew(spark, tmp_path):
    """The r13 skew-tight bucketing: on a power-law z column (one hot
    region holding ~99% of rows), a linear min/max curve maps almost
    every row to bucket 0, so post-ZORDER files all overlap and a
    hot-region predicate prunes (almost) nothing. Sampled quantile cuts
    keep per-bucket counts balanced, so the same predicate prunes most
    files, and the rows stay identical to the input."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    n = 20_000
    path = str(tmp_path / "smp")
    write_delta(spark, _skewed(spark, n).repartition(4), path)
    res = optimize_delta(
        spark, path, target_file_bytes=16 << 10, zorder_by=("k", "t"),
    )
    assert res["version"] is not None
    smp_kept, smp_total, _ = _k_lt_5_probe(spark, path)
    assert read_delta(spark, path).count() == n
    assert smp_total >= 4
    # the probe stays inside a strict minority of files
    assert smp_kept / smp_total < 0.5, (smp_kept, smp_total)


def test_optimize_delta_zorder_all_null_column_keeps_other_cuts(
    spark, tmp_path
):
    """A single-group ZORDER whose second z column is all-NULL: that
    column's rows all land in bucket 0, and the skewed first column
    keeps its own quantile cuts, so the hot-region probe prunes most
    files AND most rows. A linear min/max fallback on both columns
    collapses the hot region into one bucket: it lands in a single file
    holding ~99% of the rows, which the probe must then read."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    n = 20_000
    path = str(tmp_path / "zn1")
    df = _skewed(spark, n).withColumn("t", F.lit(None).cast("long"))
    write_delta(spark, df.repartition(4), path)
    before = sorted(tuple(r) for r in read_delta(spark, path).collect())
    res = optimize_delta(
        spark, path, target_file_bytes=16 << 10, zorder_by=("k", "t"),
    )
    assert res["version"] is not None
    after = sorted(tuple(r) for r in read_delta(spark, path).collect())
    assert after == before
    kept, total, kept_rows = _k_lt_5_probe(spark, path)
    assert total >= 4
    assert kept / total < 0.5, (kept, total)
    assert kept_rows < n / 2, (kept_rows, n)

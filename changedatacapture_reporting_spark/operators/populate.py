"""Incremental batch populate — entry point 1 of the reference
(``usp_cdc_populate_changelog``, populate:11–16) as a Spark job.

Watermark/resume semantics (SURVEY.md §2.9):

- Reference: resumes from ``COALESCE(MAX(commit_time) + 1 minute,
  min_cdc_time)`` (populate:200–211) and maps times→LSNs with first-load
  inclusivity switching (populate:241–253). The +1-minute hop can silently
  skip changes committed within 60 s after the previous load.
- Ours (default): exact high-watermark on ``lsn``, kept PER TABLE — each
  run processes ``lsn > last_loaded(table)`` (and ``lsn <= to_lsn`` when a
  bound is given, matching the ``(@from_lsn, @to_lsn]`` window,
  populate:241). LSN is monotone, so the filter prunes parquet row groups
  via min/max stats.
- ``CompatFlags.legacy_minute_skip`` reproduces the reference behaviour.

Unlike the reference (one proc invocation per table), a single run ingests
a multi-table event stream: watermarks are computed per ``table_name`` (one
small aggregate over the sink, broadcast back against the events), so a
slow table can't hold back or double-load a fast one. The sink is an
append-only parquet directory partitioned by ``(table_name, commit_month)``
— time-range reports prune to the queried months (then to days via
row-group stats, files being commit_time-sorted) and incremental runs
never read history at all: watermarks come from the ``_watermarks``
sidecar (one row per table per run) and ``rows_changed`` from the batch
itself, so a populate run's I/O is proportional to the new data.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

import pandas
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changedatacapture_reporting_spark import fs
from changedatacapture_reporting_spark.config import CompatFlags
from changedatacapture_reporting_spark.operators.changelog import build_changelog
from changedatacapture_reporting_spark.sqltext import sql_str

STAGING_ROOT = "_staging"


class ValidationError(Exception):
    """Mirrors the reference RAISERROR validations (populate:217–229)."""


@dataclass
class PopulateResult:
    rows_changed: int
    from_lsn: int | None  # max watermark across tables (None on first load)
    to_lsn: int | None


def _meta_path(sink_path: str) -> str:
    # underscore prefix: invisible to parquet directory reads of the sink
    return fs.join(sink_path, "_watermarks")


_SIDECAR_SCHEMA = "table_name string, lsn long, run_id string"


def _sidecar_rows(spark: SparkSession, per_table: list, run_id: str) -> DataFrame:
    """One sidecar row per ``(table_name, lsn)`` of ``per_table``, tagged
    ``run_id``. Built from a typed pandas frame, which plans as a JVM-
    local relation under the session's Arrow setting; a Python list
    would become a Python RDD, a Python-worker job on every commit."""
    return spark.createDataFrame(
        pandas.DataFrame(
            {
                "table_name": pandas.Series(
                    [r.table_name for r in per_table], dtype=object
                ),
                "lsn": pandas.Series([r.lsn for r in per_table], dtype="int64"),
                "run_id": pandas.Series([run_id] * len(per_table), dtype=object),
            }
        ),
        _SIDECAR_SCHEMA,
    )


def _sink_watermarks(spark: SparkSession, sink_path: str) -> dict[str, int] | None:
    """Per-table highest loaded LSN (replaces MAX(commit_time)+1min,
    populate:203), returned as plain values.

    Read from the ``_watermarks`` sidecar (one tiny row appended per table
    per run) — scanning the changelog itself for MAX(lsn) would read the
    ENTIRE history every run, turning an incremental load into a full-table
    pass at 100 TB. Falls back to the full scan for sinks written before
    the sidecar existed; either source survives restarts with no external
    state. Existence probes go through :mod:`..fs` (Hadoop FileSystem), so
    HDFS/S3 sinks resume correctly — ``os.path`` would report the sidecar
    absent and double-load history (ADVICE r01).

    Collected to literals deliberately (the map is one entry per SOURCE
    TABLE — small by construction): if the batch plan instead JOINED a
    frame that reads from under the sink, every append this run performs
    (sink, sidecar, rollup) would invalidate the cached batch via Spark's
    recacheByPath and recompute it against the run's OWN new watermark —
    i.e. as empty."""
    meta = _meta_path(sink_path)
    if fs.exists(spark, meta):
        src_df = spark.read.schema(_SIDECAR_SCHEMA).parquet(meta)
    elif fs.exists(spark, sink_path) and fs.list_data_files(spark, sink_path):
        # pre-sidecar sink: one full scan, then the sidecar takes over.
        # The data-file probe also covers a dir holding only recovered-
        # away staging debris (exists, but nothing readable in it).
        src_df = spark.read.parquet(sink_path)
    else:
        return None
    rows = (
        src_df.groupBy("table_name").agg(F.max("lsn").alias("_wm_lsn")).collect()
    )
    return {r.table_name: r._wm_lsn for r in rows} or None


def _committed_run_ids(spark: SparkSession, sink_path: str) -> set[str]:
    meta = _meta_path(sink_path)
    if not fs.exists(spark, meta):
        return set()
    rows = (
        spark.read.schema(_SIDECAR_SCHEMA)
        .parquet(meta)
        .select("run_id")
        .filter(F.col("run_id").isNotNull())
        .distinct()
        .collect()
    )
    return {r.run_id for r in rows}


def recover_sink(spark: SparkSession, sink_path: str) -> dict[str, int]:
    """Heal a sink left by a crashed run — called automatically at the
    start of every populate (batch and streaming).

    The commit protocol (see :func:`commit_batch`) makes the sidecar
    append the single commit point, so recovery is unambiguous:

    - staged run present **in** the sidecar → the crash hit between
      commit and publish: finish moving its files into the sink
      (idempotent — already-moved files are gone from staging);
    - staged run **absent** from the sidecar → the batch never
      committed: drop the staging dir; the watermark never advanced, so
      the next run re-selects exactly those events. No duplicates, no
      loss, no full-history scans (ADVICE r01 items 2–3).

    Returns ``{"published": n, "discarded": m}`` (counts of staged runs).
    """
    staging_root = fs.join(sink_path, STAGING_ROOT)
    staged = fs.listdir(spark, staging_root)
    if not staged:
        return {"published": 0, "discarded": 0}
    committed = _committed_run_ids(spark, sink_path)
    published = discarded = 0
    for run_id in staged:
        staging = fs.join(staging_root, run_id)
        if fs.exists(spark, fs.join(staging, REPLACE_MARKER)):
            # committed partition replacement (file compaction):
            # finish the swap instead of an append-publish
            _publish_replace(spark, staging, sink_path)
            published += 1
        elif run_id in committed:
            _publish(spark, staging, sink_path)
            published += 1
        else:
            fs.delete(spark, staging)
            discarded += 1
    return {"published": published, "discarded": discarded}


REPLACE_MARKER = "_COMMIT_REPLACE"


def _publish_replace(spark: SparkSession, staging: str, sink_path: str) -> None:
    """Swap staged files IN PLACE OF the exact sink files named in the
    run's manifest (the compaction commit,
    ``maintenance.compact_sink_files``): manifest files are removed,
    staged files move in, staging is dropped.

    The manifest (the marker file's content, written at commit time) is
    the OLD generation — the precise file set the compacted output was
    computed from. Deleting from that explicit list (never "everything
    not staged") makes the swap safe twice over: a file a concurrent
    populate appended after staging survives untouched, and after a
    crash mid-promote already-moved-in new files can never be mistaken
    for old ones — every step (delete of a named file, move of a staged
    file) is idempotent, so recovery just re-runs the tail."""
    manifest = [
        line
        for line in fs.read_text(
            spark, fs.join(staging, REPLACE_MARKER)
        ).splitlines()
        if line
    ]
    for rel in manifest:
        # a corrupt manifest must never widen the delete scope beyond
        # single data files inside partition dirs — refuse instead
        # (staging stays put; the old generation is still complete)
        if "/" not in rel or rel.startswith(("_", ".", "/")) or ".." in rel:
            raise RuntimeError(f"malformed replace manifest entry: {rel!r}")
    from changedatacapture_reporting_spark.operators.rollup import ROLLUP_DIR

    for rel in manifest:
        fs.delete(spark, fs.join(sink_path, rel))  # no-op if already gone
    fs.promote(spark, fs.join(staging, "data"), sink_path)
    # staged rollup deltas (a purge's negative partials) land in the same
    # commit — compaction stages none (it rewrites identical rows)
    rollup_dir = fs.join(staging, ROLLUP_DIR)
    if fs.exists(spark, rollup_dir):
        fs.promote(spark, rollup_dir, fs.join(sink_path, ROLLUP_DIR))
    fs.delete(spark, staging)


def _publish(spark: SparkSession, staging: str, sink_path: str) -> None:
    """Move a committed staged run into the sink, then drop the staging
    dir. Safe to re-run from any interruption point."""
    from changedatacapture_reporting_spark.operators.rollup import ROLLUP_DIR

    data_dir = fs.join(staging, "data")
    if fs.exists(spark, data_dir):
        fs.promote(spark, data_dir, sink_path)
    rollup_dir = fs.join(staging, ROLLUP_DIR)
    if fs.exists(spark, rollup_dir):
        fs.promote(spark, rollup_dir, fs.join(sink_path, ROLLUP_DIR))
    fs.delete(spark, staging)


def commit_batch(
    spark: SparkSession,
    changelog: DataFrame,
    sink_path: str,
    pk_cols: list[str],
    run_id: str,
    maintain_rollup: bool = True,
    salt_buckets: int | None = None,
) -> int:
    """Write one changelog batch with a single-commit-point protocol, so
    the three sink artifacts (data, watermark sidecar, rollup partials)
    can never disagree (ADVICE r01: three blind appends were non-atomic):

    1. **stage** data + rollup partials under ``_staging/<run_id>``
       (underscore → invisible to readers; ``overwrite`` → a re-attempt
       of the same run wipes its own debris);
    2. **commit**: append ONE sidecar file carrying the per-table
       watermarks tagged with ``run_id`` — a single file rename inside
       the parquet committer, the protocol's atomic point;
    3. **publish**: move staged files into the sink and drop staging.

    A crash before 2 discards the batch (watermark unmoved → events
    re-selected next run); a crash after 2 is finished by
    :func:`recover_sink`. The extra cost over a blind append is one
    metadata rename per output file.

    Returns the batch row count. The batch pipeline is computed exactly
    ONCE — the staged write; the per-table watermark aggregate and the
    rollup partials read the STAGED FILES back (80-odd small columnar
    files, column-pruned) instead of re-running or caching the caller's
    arbitrarily-expensive changelog plan (r15, VERDICT r14 #1 "reuse
    staged scans in populate" — this replaced a MEMORY_AND_DISK persist
    whose materialization was pure overhead on the populate hot path).
    """
    staging = fs.join(sink_path, STAGING_ROOT, run_id)
    data_dir = fs.join(staging, "data")
    writer = _partition_writer(changelog, pk_cols, salt_buckets).options(
        **sink_write_options()
    )
    writer.mode("overwrite").partitionBy("table_name", "commit_month").parquet(
        data_dir
    )
    # read the batch back from its own staged files: the committed
    # schema is the frame's schema (partition columns parse from the
    # hive dirs and cast through it — no inference drift)
    staged = spark.read.schema(changelog.schema).option(
        "basePath", data_dir
    ).parquet(data_dir)
    if salt_buckets and salt_buckets > 1:
        # salt_buckets signals "hot table_name expected": the per-table
        # watermark aggregate takes the salted two-phase plan too, so a
        # batch where one table holds most rows doesn't funnel that
        # table's rows through a single reduce task (plans/skew.py).
        # max/count are algebraic — partial+merge is exact, not approx.
        from changedatacapture_reporting_spark.plans.skew import (
            salted_aggregate,
        )

        per_table = salted_aggregate(
            staged,
            ["table_name"],
            {"lsn": ("max", "lsn"), "n_rows": ("count", "*")},
            salt_buckets=salt_buckets,
        ).collect()
    else:
        per_table = (
            staged.groupBy("table_name")
            .agg(F.max("lsn").alias("lsn"), F.count("*").alias("n_rows"))
            .collect()
        )
    rows_changed = sum(r.n_rows for r in per_table)
    if not rows_changed:
        fs.delete(spark, staging)  # empty batch stages nothing durable
        return 0

    if maintain_rollup:
        from changedatacapture_reporting_spark.operators.rollup import (
            ROLLUP_DIR,
            write_partials,
        )

        write_partials(staged, fs.join(staging, ROLLUP_DIR), mode="overwrite")

    # commit point: one single-file append — a single rename. repartition,
    # not coalesce: coalesce(1) over the 32-slice local relation pays a
    # fixed per-merged-parent cost (~4s/call measured on local[32]); the
    # one-row shuffle is free.
    _sidecar_rows(spark, per_table, run_id).repartition(1).write.mode(
        "append"
    ).parquet(_meta_path(sink_path))

    _publish(spark, staging, sink_path)
    return rows_changed


_DELTA_WM_PREFIX = "populate/"


def _sink_watermarks_delta(
    spark: SparkSession, sink_path: str
) -> dict[str, int] | None:
    """Per-table watermarks of a Delta-format sink: the PROTOCOL's txn
    actions (appId ``populate/<table>``) recorded by the SAME commit as
    each batch's data — the log replay is metadata-only, so resume cost
    is independent of history size, same contract as the sidecar."""
    from changedatacapture_reporting_spark.sources.delta_table import (
        _resolve_log,
        table_versions,
    )

    if not table_versions(spark, sink_path):
        return None
    txns = _resolve_log(spark, sink_path, None)["txns"]
    out = {
        app[len(_DELTA_WM_PREFIX):]: int(v)
        for app, v in txns.items()
        if app.startswith(_DELTA_WM_PREFIX)
    }
    return out or None


def commit_batch_delta(
    spark: SparkSession,
    changelog: DataFrame,
    sink_path: str,
    pk_cols: list[str],
    salt_buckets: int | None = None,
    txn: tuple[str, int] | None = None,
    wm_floors: dict[str, int] | None = None,
) -> int:
    """Delta-format twin of :func:`commit_batch` — ONE protocol instead
    of two (VERDICT r12 #6): the append commit atomically carries the
    data files AND the per-table watermark txn actions, so the two can
    never disagree and no sidecar/recovery pass exists to maintain. A
    crash mid-run leaves staged orphans (vacuum_delta reclaims) with
    the watermark unmoved — the batch re-selects next run, the same
    at-least-once-stage / exactly-once-commit shape as the parquet
    protocol.

    Multi-writer safety (ADVICE r13): OCC alone only serializes the
    appends — two populate runs reading the same watermark would both
    select and commit the same window. ``wm_floors`` (the per-table
    watermarks the batch was SELECTED against, {} on first load) closes
    that: the Delta writer re-verifies, inside its commit retry loop,
    that no guarded watermark advanced past its floor, and withdraws
    (returns 0, nothing lands) when a concurrent run won. Callers that
    pass ``wm_floors=None`` (e.g. the streaming path, whose ``txn``
    epoch already serializes batches per app) keep the ungated
    behavior."""
    import json as _json

    from changedatacapture_reporting_spark.sources.delta_table import (
        write_delta,
    )

    holder: dict[str, int] = {}

    def _txns_from_adds(add_actions: list[dict]):
        """Per-table (row count, max lsn) straight from the staged
        adds' partitionValues + stats — the batch pipeline runs exactly
        once (the staged write); the watermark txn actions derive from
        metadata the commit already collected (r15, VERDICT r14 #1).
        Falls back to one aggregate over the just-staged FILES when any
        add lacks usable stats (never this writer's own — stats are
        always collected on this path — but the contract stays exact)."""
        per: dict[str, list] = {}
        ok = True
        for a in add_actions:
            add = a["add"]
            t = (add.get("partitionValues") or {}).get("table_name")
            st = add.get("stats")
            if t is None or not st:
                ok = False
                break
            s = _json.loads(st) if isinstance(st, str) else st
            n = s.get("numRecords")
            if n is None:
                ok = False
                break
            if n == 0:
                continue
            mx = (s.get("maxValues") or {}).get("lsn")
            if mx is None:
                ok = False
                break
            e = per.setdefault(t, [0, None])
            e[0] += int(n)
            e[1] = int(mx) if e[1] is None else max(e[1], int(mx))
        if not ok:
            from urllib.parse import unquote

            staged = spark.read.schema(changelog.schema).option(
                "basePath", sink_path
            ).parquet(
                *[
                    fs.join(sink_path, unquote(a["add"]["path"]))
                    for a in add_actions
                ]
            )
            per = {
                r.table_name: [int(r.n_rows), int(r.lsn)]
                for r in staged.groupBy("table_name")
                .agg(
                    F.max("lsn").alias("lsn"),
                    F.count("*").alias("n_rows"),
                )
                .collect()
            }
        holder["rows"] = sum(n for n, _ in per.values())
        if not holder["rows"]:
            return None  # vacuous batch — withdraw, commit nothing
        txns = [
            (_DELTA_WM_PREFIX + t, int(mx))
            for t, (_, mx) in sorted(per.items())
        ]
        floors = {}
        if wm_floors is not None:
            # guard only the tables IN this batch: a concurrent run
            # advancing some other table's watermark is not a conflict.
            # Tables first seen this batch floor at -1 — ANY recorded
            # watermark for them means another run already loaded rows
            floors = {
                _DELTA_WM_PREFIX + t: int(wm_floors.get(t, -1))
                for t in per
            }
        return txns, floors

    version = write_delta(
        spark,
        _partition_layout(changelog, pk_cols, salt_buckets),
        sink_path,
        partition_by=["table_name", "commit_month"],
        txn=txn,
        parquet_options=sink_write_options(),
        txns_from_adds=_txns_from_adds,
    )
    # None = nothing landed: an empty batch, the streaming path's txn
    # epoch replay, or a concurrent populate that advanced a guarded
    # watermark first
    if version is None:
        return 0
    return holder.get("rows", 0)


BLOOM_NDV_DEFAULT = 100_000


def sink_write_options(bloom_ndv: int | None = BLOOM_NDV_DEFAULT) -> dict:
    """Parquet options every sink write (populate batches, compaction
    rewrites) shares. A bloom filter on ``pk_json`` turns row-audit
    point lookups (`WHERE pk_json = …`) into row-group skips — min/max
    stats can't prune pk_json because files are commit_time-sorted, so
    every row group's pk range spans the whole keyspace. ~16 KB per
    file at the default NDV hint (vs parquet's unhinted 1 MB); lsn and
    commit_time DON'T get blooms — they're sorted, min/max already
    prunes them."""
    if bloom_ndv is None:
        return {}
    return {
        "parquet.bloom.filter.enabled#pk_json": "true",
        "parquet.bloom.filter.expected.ndv#pk_json": str(bloom_ndv),
    }


def _partition_layout(
    changelog: DataFrame, pk_cols: list[str], salt_buckets: int | None
) -> DataFrame:
    """Sink-layout shuffle: one task per (table, month) by default; with
    ``salt_buckets=n`` a hot partition fans out over n tasks/files keyed
    by a pk hash, so a batch where one table dominates a month still
    writes in parallel (VERDICT r01 item 7). Files stay sorted by
    commit_time either way, preserving row-group min/max pruning."""
    sort_cols = ["commit_time", *pk_cols, "column_name"]
    if salt_buckets and salt_buckets > 1:
        # explicit partition count: AQE coalesces implicit-count
        # repartitions back together, which would undo the fan-out; 4×
        # headroom keeps hash collisions between salt values rare, so a
        # hot (table, month) really does land on ~salt_buckets tasks
        salted = changelog.repartition(
            salt_buckets * 4,
            F.col("table_name"),
            F.col("commit_month"),
            F.pmod(F.xxhash64(*pk_cols), F.lit(salt_buckets)),
        )
        return salted.sortWithinPartitions(*sort_cols)
    return changelog.repartition(
        "table_name", "commit_month"
    ).sortWithinPartitions(*sort_cols)


def _partition_writer(
    changelog: DataFrame, pk_cols: list[str], salt_buckets: int | None
):
    return _partition_layout(changelog, pk_cols, salt_buckets).write


def populate_changelog(
    spark: SparkSession,
    events: DataFrame,
    sink_path: str,
    pk_cols: list[str],
    to_lsn: int | None = None,
    flags: CompatFlags | None = None,
    maintain_rollup: bool = True,
    salt_buckets: int | None = None,
    sink_format: str = "parquet",
) -> PopulateResult:
    """One incremental run: filter new events per table, build changelog,
    append.

    ``to_lsn`` mirrors ``@to_date`` → ``@to_lsn`` ('largest less than',
    populate:241): pass None for "HIGHDATE completeness" (readme:24–25).
    Validation: a ``to_lsn`` below the resume point raises, as the
    reference raises when ``@to_date < @from_date`` (populate:217–229,
    416–422). ``CompatFlags.swallow_errors`` reproduces the reference's
    TRY/CATCH that reports any failure as "No changes were detected"
    (populate:401–409) — default False: failures surface.

    ``sink_format="delta"`` routes the sink through the hardened Delta
    writer (sources.delta_table): ONE commit protocol — the per-table
    watermark txn actions land atomically WITH the data, replacing the
    parquet sidecar/recovery machinery, and the sink gains OCC
    multi-writer safety, time travel, OPTIMIZE/VACUUM and deletion-
    vector purges for free. Read it back with ``read_delta``. Rollup
    partials are a parquet-sink artifact — pass
    ``maintain_rollup=False`` (aggregate the Delta sink directly, with
    stats skipping, instead).
    """
    flags = flags or CompatFlags()
    if sink_format not in ("parquet", "delta"):
        raise ValueError(f"unsupported sink_format: {sink_format!r}")
    if sink_format == "delta" and maintain_rollup:
        raise ValueError(
            "rollup partials are a parquet-sink artifact; pass "
            "maintain_rollup=False with sink_format='delta' and "
            "aggregate the Delta sink directly"
        )
    try:
        return _populate(
            spark,
            events,
            sink_path,
            pk_cols,
            to_lsn,
            flags,
            maintain_rollup,
            salt_buckets,
            sink_format,
        )
    except Exception:
        if flags.swallow_errors:
            # reference-faithful ST5: any error → "No changes were detected"
            return PopulateResult(rows_changed=0, from_lsn=None, to_lsn=to_lsn)
        raise


def _populate(
    spark: SparkSession,
    events: DataFrame,
    sink_path: str,
    pk_cols: list[str],
    to_lsn: int | None,
    flags: CompatFlags,
    maintain_rollup: bool = True,
    salt_buckets: int | None = None,
    sink_format: str = "parquet",
) -> PopulateResult:
    delta_sink = sink_format == "delta"
    if delta_sink:
        # no sidecar/staging protocol to heal: the Delta commit is the
        # single atomic point; crashed-run debris is unreferenced files
        # vacuum_delta reclaims
        wm = _sink_watermarks_delta(spark, sink_path)
    else:
        recover_sink(spark, sink_path)  # heal any crashed run first
        wm = _sink_watermarks(spark, sink_path)
    max_wm: int | None = max(wm.values()) if wm else None

    if flags.legacy_minute_skip and wm is not None:
        # reference-faithful: resume from MAX(commit_time)+1min (global —
        # the reference is single-table per invocation)
        if delta_sink:
            from changedatacapture_reporting_spark.sources.delta_table import (
                read_delta,
            )

            sink_df = read_delta(spark, sink_path)
        else:
            sink_df = spark.read.parquet(sink_path)
        prev = sink_df.agg(F.max("commit_time")).head()[0]
        batch = events.filter(
            F.col("commit_ts") >= F.lit(prev) + F.expr("INTERVAL 1 MINUTE")
        )
    elif wm is not None:
        # literal per-table thresholds (no file-source dependency — see
        # _sink_watermarks), as one SQL map; unknown tables pass through
        # as first-load
        wm_map = "map({})[table_name]".format(
            ", ".join(
                f"{sql_str(t)}, {'NULL' if v is None else int(v)}"
                for t, v in wm.items()
            )
        )
        batch = events.filter(f"{wm_map} IS NULL OR lsn > {wm_map}")
    else:
        batch = events

    if to_lsn is not None:
        if max_wm is not None and to_lsn <= max_wm:
            raise ValidationError(
                "TO date cannot be less than the minimum LSN date / resume point"
            )
        batch = batch.filter(F.col("lsn") <= F.lit(to_lsn))

    # month granularity: day-level dirs explode into thousands of tiny
    # partitions on historical backfills (measured: a 7-year fixture made
    # a 1005-task scan); months keep directory counts sane and day-level
    # pruning still happens via row-group min/max stats, because files are
    # sorted by commit_time within each partition
    changelog = build_changelog(
        batch, pk_cols, flags=flags, carry_cols=["lsn", "seq"]
    ).withColumn("commit_month", F.trunc("commit_time", "month"))

    # one computation of the batch serves everything: the commit paths
    # stage the changelog FIRST and derive @@ROWCOUNT (populate:399),
    # the watermark records and the rollup partials from the staged
    # files/metadata — no persist, no second run of the batch plan,
    # and never a re-read of sink history (r15; the pre-r15 flow
    # persisted the frame and aggregated it separately, paying a full
    # cache materialization on every populate)
    if delta_sink:
        rows_changed = commit_batch_delta(
            spark,
            changelog,
            sink_path,
            pk_cols,
            salt_buckets=salt_buckets,
            wm_floors=wm or {},
        )
    else:
        rows_changed = commit_batch(
            spark,
            changelog,
            sink_path,
            pk_cols,
            run_id=uuid.uuid4().hex,
            maintain_rollup=maintain_rollup,
            salt_buckets=salt_buckets,
        )
    return PopulateResult(
        rows_changed=rows_changed, from_lsn=max_wm, to_lsn=to_lsn
    )


def backfill_changelog(
    spark: SparkSession,
    events: DataFrame,
    sink_path: str,
    pk_cols: list[str],
    flags: CompatFlags | None = None,
    maintain_rollup: bool = True,
) -> PopulateResult:
    """Merge a LATE batch — events at or below the sink watermark that
    were missed (upstream outage, a repaired source extract, delivery
    re-ordered past the resume window). :func:`populate_changelog`'s
    watermark filter drops such events BY DESIGN (that filter is what
    makes normal runs idempotent); backfill instead deduplicates against
    the sink itself and appends only the genuinely missing rows, through
    the same single-commit-point protocol. The reference has no answer
    to this at all — its ``@from_date = MAX(commit_time)+1min`` resume
    (usp_cdc_populate_changelog.sql:203) silently loses anything that
    arrives late.

    Scale shape: the sink side of the dedup anti-join is pruned to the
    (table_name, commit_month) partitions the batch actually touches
    (partition filters from a driver-small distinct of the batch), so a
    one-month backfill reads one month of history, not all of it. Rows
    are identified by (table_name, lsn, seq, pk…, column_name) — the
    changelog's natural identity. Idempotent: re-running the same
    backfill appends nothing. Watermarks never move backward (the
    sidecar is max-aggregated), so normal populate runs are unaffected.
    """
    flags = flags or CompatFlags()
    recover_sink(spark, sink_path)

    batch = build_changelog(
        events, pk_cols, flags=flags, carry_cols=["lsn", "seq"]
    ).withColumn("commit_month", F.trunc("commit_time", "month"))
    batch.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        touched = [
            (r.table_name, r.commit_month)
            for r in batch.select("table_name", "commit_month")
            .distinct()
            .collect()
        ]
        if not touched:
            return PopulateResult(rows_changed=0, from_lsn=None, to_lsn=None)

        identity = ["table_name", "lsn", "seq", *pk_cols, "column_name"]
        missing = batch
        if fs.exists(spark, sink_path) and fs.listdir(spark, sink_path):
            part_pred = None
            for t, m in touched:
                p = (F.col("table_name") == t) & (
                    F.col("commit_month") == F.lit(m)
                )
                part_pred = p if part_pred is None else (part_pred | p)
            existing = (
                spark.read.parquet(sink_path)
                .filter(part_pred)
                .select(*identity)
            )
            cond = [
                batch[c].eqNullSafe(existing[c]) for c in identity
            ]
            missing = batch.join(existing, cond, "left_anti")

        # no persist: commit_batch stages first and reads the staged
        # files back for its aggregate — missing is consumed once
        rows = commit_batch(
            spark,
            missing,
            sink_path,
            pk_cols,
            run_id="backfill-" + uuid.uuid4().hex,
            maintain_rollup=maintain_rollup,
        )
        return PopulateResult(rows_changed=rows, from_lsn=None, to_lsn=None)
    finally:
        batch.unpersist()

"""Core populate dataflow: CDC events → long-format per-column changelog.

Re-expresses the generated INSERT…SELECT of
``usp_cdc_populate_changelog.sql:261–397`` (the reference's entire dataflow:
scan → changed-column mask → UNPIVOT ×2 → before/after join → UNION ALL
markers → ORDER BY → insert) as a single-scan, join-free Spark plan.

Reference dataflow vs ours
--------------------------
The reference scans the CDC change function **4×** (op=3 before-images,
op=4 after-images, op=1 deletes, op=2 inserts; populate:319, 352, 373, 384),
NULL-masks unchanged columns via ``__$update_mask`` bit probes
(populate:302–310), UNPIVOTs each image stream to long format
(populate:321, 354), then inner-joins before×after on
``(__$start_lsn, column_name, pk…)`` (populate:361–364).

Our event model carries both images in one row
(``before``/``after`` structs — see schema.py), so:

- changed-column detection is null-safe inequality per column
  (``NOT before.c <=> after.c``) instead of bitmask probes (populate:304–306);
- the unpivot emits (column_name, old_value, new_value) *pairs* directly —
  the reference's J1 join disappears;
- one scan instead of four;
- the reference's ``__$seqval`` gap (two updates to one row in one
  transaction cross-match in its join) cannot occur: pairing is per-event-row.

Everything below is built-in Spark expressions (no Python UDFs), so the
whole pipeline stays inside whole-stage codegen and Catalyst can push
filters into the parquet scan — required posture at 100 TB.

``pair_update_images`` implements the reference's literal join shape (J1)
for inputs that arrive as split before/after rows ('all update old' format).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.config import CompatFlags
from changedatacapture_reporting_spark.schema import (
    DELETED_RECORD,
    NEW_RECORD,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
)
from changedatacapture_reporting_spark.sqltext import sql_ident, sql_str


def _erased(field: str, flags: CompatFlags) -> str:
    """SQL text type-erasing ``field`` to string (populate:271–277
    SQL_VARIANT→VARCHAR).

    The 128-char truncation is reference-faithful only behind
    ``flags.truncate128`` (it silently corrupts long values).
    """
    s = f"CAST({field} AS STRING)"
    return f"substring({s}, 1, 128)" if flags.truncate128 else s


def _erase(field: str, flags: CompatFlags) -> Column:
    """:func:`_erased` as a Column."""
    return F.expr(_erased(field, flags))


def _image_field(image: str, name: str) -> str:
    """SQL text of field ``name`` of the struct column ``image``."""
    return f"{sql_ident(image)}.{sql_ident(name)}"


def _pk_value(k: str) -> str:
    """PK carry-through: before-image for updates/deletes, after for
    inserts.

    Mirrors the reference taking updates' PKs from ``up_b`` (populate:292)
    and each marker's PKs from its own row image (populate:369, 380).
    """
    return f"coalesce({_image_field('before', k)}, {_image_field('after', k)})"


def _pk_json(pk_names: list[str]) -> str:
    """Canonical composite-PK string (replaces the reference's lossy
    INT-typed PK columns, populate:95–97)."""
    fields = ", ".join(f"{sql_str(k)}, {_pk_value(k)}" for k in pk_names)
    return f"to_json(named_struct({fields}))"


def _entry(column_name: str, old: str, new: str, changed: str = "true") -> str:
    """One (column_name, old_value, new_value, changed) entry struct; the
    trailing ``changed`` flag is dropped at the final projection."""
    return (
        f"named_struct('column_name', {column_name}, 'old_value', {old}, "
        f"'new_value', {new}, 'changed', {changed})"
    )


def _changed_entries(value_cols: list[str], flags: CompatFlags) -> str:
    """SQL text of :func:`changed_column_entries`."""
    entries = ", ".join(
        _entry(
            sql_str(c),
            _erased(_image_field("before", c), flags),
            _erased(_image_field("after", c), flags),
            f"NOT ({_image_field('before', c)} <=> {_image_field('after', c)})",
        )
        for c in value_cols
    )
    return f"filter(array({entries}), e -> e.changed)"


def changed_column_entries(
    value_cols: list[str], flags: CompatFlags | None = None
) -> Column:
    """Array of (column_name, old_value, new_value) for genuinely changed
    columns of an update event.

    This is the reference's P2 changed-column mask (populate:302–310) fused
    with both UNPIVOTs (populate:321, 354): the bitmask probe becomes a
    null-safe inequality, and ``filter`` prunes unchanged columns *inside*
    the array before ``explode`` ever materializes a row — the same effect
    as UNPIVOT dropping the masked NULLs, without emitting n_cols rows per
    update first.
    """
    return F.expr(_changed_entries(value_cols, flags or CompatFlags()))


def build_changelog(
    events: DataFrame,
    pk_cols: list[str],
    value_cols: list[str] | None = None,
    flags: CompatFlags | None = None,
    created_by: str | None = None,
    with_audit_cols: bool = True,
    carry_cols: list[str] | None = None,
    record_insert_images: bool = False,
) -> DataFrame:
    """events(lsn, seq, commit_ts, op, table_name, before, after) → changelog.

    Output: one row per (event, changed column) for updates, plus one
    marker row per insert ('NEW RECORD', populate:383) and per delete
    ('DELETED RECORD', populate:371), with NULL column_name on markers
    (populate:370, 381).

    ``value_cols`` defaults to every field of the row image — the reference
    likewise unpivots *all* ``sys.columns`` (populate:295–336), so a changed
    PK column shows up as a change row too.

    ``carry_cols`` are event columns (e.g. ``lsn``, ``seq``) copied through
    to the output — the incremental sink keeps ``lsn`` as its high-watermark.

    ``record_insert_images`` (engine extension, default off = reference-
    faithful): also emit one (column_name, NULL, value) row per non-null
    column of each insert, making the changelog self-contained — state
    reconstruction (operators.reconstruct) then recovers every column, not
    just ones that changed after insert. The reference's changelog cannot
    answer "what was the row at time T" for never-updated columns.
    """
    flags = flags or CompatFlags()
    if value_cols is None:
        value_cols = [f.name for f in events.schema["after"].dataType.fields]
    carry_cols = carry_cols or []

    # SINGLE-PASS plan: one CASE-on-op entries array per event, one explode,
    # no union. The union-of-filtered-branches formulation reads the source
    # 3× (Spark does not share scans across union branches) — ruinous when
    # the source is 100 TB of parquet or a from_json over Debezium bytes.
    # Every expression is SQL text: one parse per projection instead of
    # several py4j round trips per Column-builder call, per value column.
    null_s = "CAST(NULL AS STRING)"
    insert_entries = f"array({_entry(null_s, null_s, sql_str(NEW_RECORD))})"
    if record_insert_images:
        images = ", ".join(
            _entry(sql_str(c), null_s, _erased(_image_field("after", c), flags))
            for c in value_cols
        )
        insert_entries = (
            f"concat({insert_entries}, "
            f"filter(array({images}), e -> e.new_value IS NOT NULL))"
        )
    deleted = f"array({_entry(null_s, sql_str(DELETED_RECORD), null_s)})"
    # unknown ops → NULL array → explode emits nothing
    entries = (
        f"CASE WHEN op = {sql_str(OP_UPDATE)} "
        f"THEN {_changed_entries(value_cols, flags)} "
        f"WHEN op = {sql_str(OP_DELETE)} THEN {deleted} "
        f"WHEN op = {sql_str(OP_INSERT)} THEN {insert_entries} END"
    )

    carry = [sql_ident(c) for c in carry_cols]
    pks = [sql_ident(k) for k in pk_cols]
    out = events.selectExpr(
        *carry,
        "commit_ts AS commit_time",
        "table_name",
        *[f"{_pk_value(k)} AS {q}" for k, q in zip(pk_cols, pks)],
        f"{_pk_json(pk_cols)} AS pk_json",
        f"explode({entries}) AS e",
    ).selectExpr(
        *carry,
        "commit_time",
        "table_name",
        *pks,
        "pk_json",
        "e.column_name AS column_name",
        "e.old_value AS old_value",
        "e.new_value AS new_value",
    )

    if with_audit_cols:
        out = out.withColumn("created_dt", F.current_timestamp()).withColumn(
            "created_by",
            F.lit(created_by or out.sparkSession.sparkContext.sparkUser()),
        )
    if flags.audit_modified_cols:
        # DDL parity (populate:153–154): present, typed, never written
        out = out.withColumn(
            "modified_dt", F.lit(None).cast("timestamp")
        ).withColumn("modified_by", F.lit(None).cast("string"))
    if flags.surrogate_id:
        # DDL parity (populate:144,156): leading surrogate key column
        out = out.select(
            F.monotonically_increasing_id().alias("changelog_id"), "*"
        )

    if flags.global_order:
        # reference-faithful global ORDER BY (populate:390–394): forces a
        # range-partition exchange; only sensible for small extracts.
        out = out.orderBy("commit_time", *pk_cols, "column_name")
    return out


def pair_update_images(
    before_rows: DataFrame,
    after_rows: DataFrame,
    pk_cols: list[str],
    value_cols: list[str] | None = None,
    flags: CompatFlags | None = None,
) -> DataFrame:
    """J1 — the reference's literal before/after pairing join
    (populate:340–364) for inputs shaped like ``'all update old'``: separate
    before-image (op=3) and after-image (op=4) rows.

    Each side: NULL-mask unchanged columns (needs a changed-mask; here the
    caller's rows carry a ``changed_cols`` array — Debezium and Spark CDF
    both provide one; absent that, use :func:`build_changelog`'s paired
    path), melt wide→long, drop NULLs, then inner equi-join on
    ``(lsn, seq, column_name, pk…)``.

    We include ``seq`` in the join key — fixing the reference's cross-match
    gap when one row is updated twice in one transaction (it joins on
    ``__$start_lsn`` + column + pk only, populate:361–364).

    At scale: an equi-join on (lsn, seq, column_name, pk) is
    uniformly distributed (lsn is monotone, effectively unique per txn), so
    sort-merge with AQE handles it without skew; both sides come from the
    same scan so Spark reuses the exchange.
    """
    flags = flags or CompatFlags()
    if value_cols is None:
        value_cols = [
            f.name
            for f in before_rows.schema["image"].dataType.fields
        ]

    def _melt(df: DataFrame, value_name: str) -> DataFrame:
        stack_args: list[Column] = []
        for c in value_cols:
            stack_args.append(F.lit(c))
            stack_args.append(_erase(_image_field("image", c), flags))
        melted = df.select(
            "lsn",
            "seq",
            "commit_ts",
            "table_name",
            *[F.col(f"image.{k}").alias(k) for k in pk_cols],
            F.stack(
                F.lit(len(value_cols)), *stack_args
            ).alias("column_name", value_name),
            F.col("changed_cols"),
        )
        # UNPIVOT's implicit NULL-drop + P2 mask: keep only changed columns
        return melted.filter(
            F.array_contains(F.col("changed_cols"), F.col("column_name"))
        ).drop("changed_cols")

    up_b = _melt(before_rows, "old_value")
    up_a = _melt(after_rows, "new_value").drop("commit_ts", "table_name")
    return up_b.join(
        up_a, on=["lsn", "seq", "column_name", *pk_cols], how="inner"
    ).select(
        F.col("commit_ts").alias("commit_time"),
        "table_name",
        *pk_cols,
        "column_name",
        "old_value",
        "new_value",
    )


OP_PK_UPDATE = "pk_update"


def fuse_pk_change_events(
    events: DataFrame,
    pk_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Fuse same-transaction delete+insert pairs into ``pk_update`` events.

    SQL Server CDC (and most log-based CDC) represents an UPDATE that
    changes the primary key as a DELETE of the old row plus an INSERT of
    the new row inside the same transaction (same ``__$start_lsn``) — the
    reference's changelog therefore records a PK change as two unrelated
    marker rows (populate:371/383) and loses the row's identity thread.
    This operator re-pairs them: a delete and an insert in the same
    (table, lsn) whose non-PK value images are null-safe identical become
    ONE event with ``op='pk_update'``, ``before`` = the delete's image,
    ``after`` = the insert's image. Unmatched deletes/inserts and all
    other ops pass through unchanged.

    Ambiguity (several identical value images in one transaction) is
    resolved deterministically: each side is ranked by (seq, pk) within
    (table, lsn, value-image) and pairing is rank-to-rank — replayable
    bit-exactly by any engine with ROW_NUMBER.

    At scale: two filters over one event scan, each ranked by a window
    partitioned on (table, lsn, value-image) — high-cardinality keys, so
    no skewed single partition — then ONE full-outer equi-join on that
    same key + rank (the sort/exchange is shared between the window and
    the join). No driver round-trips, no Python in the data plane.
    """
    from pyspark.sql.window import Window

    # canonical value-image key: a STRUCT of the casted columns. Struct
    # equality in join/window comparisons is field-wise with null==null,
    # so ('a', NULL) vs ('a',) can't collide and — unlike the previous
    # separator-concat form — a value that itself contains the separator
    # or NULL-marker bytes cannot forge a collision between two distinct
    # images (VERDICT r10).
    def _vkey(side: str) -> Column:
        return F.struct(
            *[
                F.col(f"{side}.{c}").cast("string").alias(c)
                for c in value_cols
            ]
        )

    def _pk_order(side: str) -> list[Column]:
        return [F.col(f"{side}.{c}").cast("string") for c in pk_cols]

    event_cols = ["lsn", "seq", "commit_ts", "op", "table_name", "before", "after"]
    dels = events.filter(F.col("op") == OP_DELETE).withColumn(
        "_vk", _vkey("before")
    )
    ins = events.filter(F.col("op") == OP_INSERT).withColumn(
        "_vk", _vkey("after")
    )
    others = events.filter(~F.col("op").isin(OP_DELETE, OP_INSERT))

    w_d = Window.partitionBy("table_name", "lsn", "_vk").orderBy(
        "seq", *_pk_order("before")
    )
    w_i = Window.partitionBy("table_name", "lsn", "_vk").orderBy(
        "seq", *_pk_order("after")
    )
    d = dels.withColumn("_r", F.row_number().over(w_d)).select(
        F.col("table_name").alias("_t"),
        F.col("lsn").alias("_l"),
        "_vk",
        "_r",
        F.struct(*event_cols).alias("_de"),
    )
    i = ins.withColumn("_r", F.row_number().over(w_i)).select(
        F.col("table_name").alias("_t"),
        F.col("lsn").alias("_l"),
        "_vk",
        "_r",
        F.struct(*event_cols).alias("_ie"),
    )
    j = d.join(i, on=["_t", "_l", "_vk", "_r"], how="full_outer")
    fused = j.select(
        F.coalesce(F.col("_ie.lsn"), F.col("_de.lsn")).alias("lsn"),
        F.coalesce(F.col("_ie.seq"), F.col("_de.seq")).alias("seq"),
        F.coalesce(F.col("_ie.commit_ts"), F.col("_de.commit_ts")).alias(
            "commit_ts"
        ),
        F.when(
            F.col("_de").isNotNull() & F.col("_ie").isNotNull(),
            F.lit(OP_PK_UPDATE),
        )
        .when(F.col("_de").isNotNull(), F.lit(OP_DELETE))
        .otherwise(F.lit(OP_INSERT))
        .alias("op"),
        F.coalesce(F.col("_de.table_name"), F.col("_ie.table_name")).alias(
            "table_name"
        ),
        F.col("_de.before").alias("before"),
        F.col("_ie.after").alias("after"),
    )
    return fused.unionByName(others.select(*event_cols))

"""Adapter for SQL-Server-CDC-shaped change rows — direct parity with the
reference's input format.

The reference consumes ``[cdc].[fn_cdc_get_all_changes_dbo_<T>](from, to,
'all update old')`` rows (usp_cdc_populate_changelog.sql:319): one row per
delete (``__$operation``=1) / insert (2) / update-before (3) /
update-after (4), each carrying the row image, a VARBINARY ``__$start_lsn``
and a ``__$update_mask`` bitmask probed per column with
``fn_cdc_is_bit_set(fn_cdc_get_column_ordinal(...), mask)``
(populate:304–306). This module converts that shape into the engine's
paired event model (schema.cdc_event_schema):

- ``parse_lsn``          — F16 ``fn_varbintohexstr`` inverse: hex string /
                           binary LSN → orderable long
- ``changed_columns``    — F15: mask bit per 1-based column ordinal
- ``with_commit_time``   — F13 ``fn_cdc_map_lsn_to_time``: broadcast join
                           against an (lsn → commit_ts) mapping table
- ``mssql_rows_to_events`` — op 1/2 rows pass through; op 3/4 pairs match on
                           (lsn, seqval) into single update events. The key
                           includes ``__$seqval`` — fixing the reference's
                           same-transaction cross-match gap (its J1 joins on
                           lsn + column + pk only, populate:361–364).

At scale: the reference reads its CDC function four times per run (one read
per operation, populate:319/353/375/386) and joins the update halves. Here a
window's rows are read once and joined once to the lsn→time map, which is
tiny (one row per transaction batch) and broadcasts; the 3⋈4 pairing is one
hash aggregation on (lsn, seqval) — a key unique per update and uniformly
distributed (LSNs are monotone) — so the only exchange is that grouping's
and there is no self-join. Past 128 keys per task (Spark's default
threshold) the object-hash aggregation falls back to sorting, which
spills, so any volume fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changedatacapture_reporting_spark.sqltext import sql_ident, sql_str

OP_DELETE_ROW = 1  # populate:375
OP_INSERT_ROW = 2  # populate:386
OP_UPDATE_BEFORE = 3  # populate:320
OP_UPDATE_AFTER = 4  # populate:353


def parse_lsn(lsn: Column) -> Column:
    """Hex-string or binary ``__$start_lsn`` → orderable BIGINT.

    The reference converts binary LSNs to hex strings for SQL splicing via
    ``fn_varbintohexstr`` (populate:256–257); we parse the same encoding
    back. Accepts '0x...'-prefixed hex strings or raw binary (uses the low
    8 of the 10 bytes — SQL Server LSNs are monotone in that suffix window
    for any realistic retention span).
    """
    s = F.when(
        lsn.cast("string").startswith("0x"),
        F.substring(lsn.cast("string"), 3, 100),
    ).otherwise(F.hex(lsn))
    return F.conv(F.substring(F.lpad(s, 20, "0"), 5, 16), 16, 10).cast("long")


def changed_columns(
    mask: Column, ordered_columns: list[str]
) -> Column:
    """F15 parity — ``fn_cdc_is_bit_set(fn_cdc_get_column_ordinal(i), mask)``:
    array of column names whose mask bit is set. ``ordered_columns`` is the
    capture-instance column order (1-based ordinals), the analog of the
    reference's ``sys.columns`` cursor order (populate:295)."""
    return F.filter(
        F.array(
            *[
                F.when(F.bit_get(mask, F.lit(i)) == 1, F.lit(c))
                for i, c in enumerate(ordered_columns)
            ]
        ),
        lambda c: c.isNotNull(),
    )


def with_commit_time(
    rows: DataFrame, lsn_time_map: DataFrame, lsn_col: str = "lsn"
) -> DataFrame:
    """F13 parity — ``fn_cdc_map_lsn_to_time`` as a broadcast join against
    an (lsn, commit_ts) mapping table."""
    return rows.join(F.broadcast(lsn_time_map), on=lsn_col, how="left")


def mssql_rows_to_events(
    rows: DataFrame,
    image_cols: list[str],
    lsn_time_map: DataFrame | None = None,
) -> DataFrame:
    """CDC-function-shaped rows → paired event model.

    Input schema: ``__$start_lsn`` (hex string or binary), ``__$seqval``
    long, ``__$operation`` int ∈ {1,2,3,4}, ``__$update_mask`` long,
    ``table_name`` string, plus one column per ``image_cols`` (the row
    image). ``commit_ts`` may be present, or supplied via ``lsn_time_map``.

    One scan of ``rows``, one join to the LSN map, one hash exchange: a
    ``groupBy(lsn, seq)`` collects each operation's
    ``(commit_ts, table_name, image)`` entries, and one ``inline`` emits
    every op-1 entry as a delete, every op-2 entry as an insert and every
    op-3 × op-4 pair of a group as an update (commit_ts and table_name
    from the op-3 side). This is the inner join on (lsn, seq), duplicate
    keys and all: unpaired halves, updates with a NULL key and unknown
    operations emit nothing; deletes and inserts pass through as they
    are.
    """
    base = rows.withColumn("lsn", parse_lsn(F.col("`__$start_lsn`"))).withColumn(
        "seq", F.expr("CAST(`__$seqval` AS BIGINT)")
    )
    if lsn_time_map is not None:
        base = with_commit_time(base, lsn_time_map)

    # the row image and its typed NULL as SQL text, typed from the input
    # schema (a name matches exactly, else case-insensitively, as Spark
    # resolves it)
    exact = {f.name: f for f in rows.schema.fields}
    folded = {f.name.lower(): f for f in rows.schema.fields}
    fields = [exact.get(c) or folded[c.lower()] for c in image_cols]
    image = "named_struct({})".format(
        ", ".join(f"{sql_str(f.name)}, {sql_ident(f.name)}" for f in fields)
    )
    no_image = f"CAST(NULL AS STRUCT<{T.StructType(fields).toDDL()}>)"
    keyed = "lsn IS NOT NULL AND seq IS NOT NULL"

    def entries(op: int, cond: str = "TRUE") -> str:
        return (
            f"collect_list(IF(`__$operation` = {op} AND {cond}, named_struct("
            f"'commit_ts', commit_ts, 'table_name', table_name, "
            f"'image', {image}), NULL)) AS op{op}"
        )

    def event(op: str, side: str, before: str, after: str) -> str:
        return (
            f"named_struct('commit_ts', {side}.commit_ts, 'op', '{op}', "
            f"'table_name', {side}.table_name, 'before', {before}, "
            f"'after', {after})"
        )

    grouped = base.groupBy("lsn", "seq").agg(
        F.expr(entries(OP_DELETE_ROW)),
        F.expr(entries(OP_INSERT_ROW)),
        F.expr(entries(OP_UPDATE_BEFORE, keyed)),
        F.expr(entries(OP_UPDATE_AFTER, keyed)),
    )
    emitted = "inline(concat({}, {}, flatten({})))".format(
        f"transform(op{OP_DELETE_ROW}, d -> "
        f"{event('delete', 'd', 'd.image', no_image)})",
        f"transform(op{OP_INSERT_ROW}, i -> "
        f"{event('insert', 'i', no_image, 'i.image')})",
        f"transform(op{OP_UPDATE_BEFORE}, b -> transform(op{OP_UPDATE_AFTER},"
        f" a -> {event('update', 'b', 'b.image', 'a.image')}))",
    )
    return grouped.selectExpr("lsn", "seq", emitted)

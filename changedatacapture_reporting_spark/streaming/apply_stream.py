"""Streaming apply of a CDC event stream onto Delta tables — the
streaming form of the consumer-side pipeline
(operators.net_changes → operators.apply) and its grouped twin:

- :func:`stream_apply` keeps a current-state table. Each micro-batch
  collapses to NET changes and MERGEs into the target by pk
  (``sources.delta_table.delta_stream_merger``): net deletes remove the
  key, every other net row upserts its ``after`` image. The MERGE is
  file-targeted, so a batch rewrites only the files holding its keys.
- :func:`stream_maintain_aggregate` keeps a grouped aggregate exact.
  Each micro-batch folds into signed per-group deltas, merged into the
  groups-sized table and committed as one atomic overwrite.

Exactly-once: every commit carries the Delta PROTOCOL's transaction
action ``txn=(app id, batch id)``. A micro-batch the engine replays
(a crash between the Delta commit and the checkpoint commit) finds its
batch id at or below the app's recorded watermark and is skipped
inside the commit — sink-side idempotency, not checkpoint trust. A
checkpoint whose planned batches stop below the app's recorded
watermark (a new one, against an existing target) would restart at
batch 0 and be skipped, so it raises at start. A
crash before the commit leaves only unreferenced files: readers never
open them and ``vacuum_delta`` reclaims them. Readers resolve the
latest committed version, which is always complete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from changedatacapture_reporting_spark.operators.net_changes import net_changes
from changedatacapture_reporting_spark.sources.delta_table import (
    check_stream_checkpoint,
    delta_stream_merger,
    read_delta,
    table_versions,
    write_delta,
)

_APPLY_APP = "stream_apply"
_AGG_APP = "stream_maintain_aggregate"
_DELETE = "_net_delete"  # merge source's delete flag (net_op = delete)


def _state_struct(
    source_struct: T.StructType, pk_cols: list[str], value_cols: list[str]
) -> T.StructType:
    """Schema of the current-state table: the pk and value fields of
    the source row, nullable (net images are read back nullable)."""
    return T.StructType(
        [
            T.StructField(f.name, f.dataType)
            for f in source_struct.fields
            if f.name in (*pk_cols, *value_cols)
        ]
    )


def read_current_state(
    spark: SparkSession,
    target_path: str,
    pk_cols: list[str],
    value_cols: list[str],
    source_struct: T.StructType,
) -> DataFrame:
    """The served table: the latest Delta version, or an empty typed
    frame before the target exists."""
    if not table_versions(spark, target_path):
        return spark.createDataFrame(
            [], _state_struct(source_struct, pk_cols, value_cols)
        )
    return read_delta(spark, target_path)


def stream_apply(
    spark: SparkSession,
    events_path: str,
    event_schema: T.StructType,
    target_path: str,
    checkpoint_path: str,
    pk_cols: list[str],
    value_cols: list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the current-state table from a CDC event stream.
    Raises ValueError when ``checkpoint_path`` planned no batch up to
    the txn watermark the target already records for this stream."""
    check_stream_checkpoint(spark, checkpoint_path, target_path, _APPLY_APP)
    state = _state_struct(event_schema["after"].dataType, pk_cols, value_cols)
    if not table_versions(spark, target_path):
        write_delta(spark, spark.createDataFrame([], state), target_path)
    merge = delta_stream_merger(
        target_path, pk_cols, _APPLY_APP, delete_col=_DELETE
    )
    stream = spark.readStream.schema(event_schema).parquet(events_path)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        net = net_changes(batch_df, pk_cols)
        # the net image cast to the target's types, as apply_changes does
        source = net.select(
            *[
                F.col(f.name if f.name in pk_cols else f"after.{f.name}")
                .cast(f.dataType)
                .alias(f.name)
                for f in state.fields
            ],
            (F.col("net_op") == "delete").alias(_DELETE),
        )
        merge(source, epoch_id)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_aggregate(
    spark: SparkSession,
    target_path: str,
    group_cols: list[str],
    sum_cols: dict[str, str],
    source_struct: T.StructType,
) -> DataFrame:
    """The maintained aggregate table of a
    :func:`stream_maintain_aggregate` target: the latest Delta version,
    or an empty typed frame before bootstrap. Empty-frame measures carry
    the SUM-RESULT type of their source field (long for integrals,
    decimal(p+10, s) for decimals — Spark's sum widening, the same type
    ``bootstrap_aggregate``'s GROUP BY would produce), so a no-bootstrap
    start maintains decimals exactly instead of locking the view to long
    and truncating the first batch's deltas."""
    if table_versions(spark, target_path):
        return read_delta(spark, target_path)

    def sum_result_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.DecimalType):
            return T.DecimalType(min(38, dt.precision + 10), dt.scale)
        return T.LongType()

    fields = [
        T.StructField(f.name, f.dataType)
        for f in source_struct.fields
        if f.name in group_cols
    ]
    fields.append(T.StructField("n_rows", T.LongType()))
    fields += [
        T.StructField(a, sum_result_type(source_struct[src].dataType))
        for a, src in sum_cols.items()
    ]
    return spark.createDataFrame([], T.StructType(fields))


def bootstrap_aggregate(
    spark: SparkSession, target_path: str, initial: DataFrame
) -> None:
    """Seed the maintained aggregate from a base snapshot's GROUP BY
    (the deployment bootstrap: aggregate the initial state once, then
    never rescan it) as the target's first Delta version. Idempotent: a
    second call on a target that already has a version is a no-op."""
    if table_versions(spark, target_path):
        return
    # commit every column nullable: the maintained rewrites are read
    # back nullable, and a write may not loosen the committed schema
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType) for f in initial.schema]
    )
    write_delta(
        spark,
        spark.createDataFrame([], nullable).unionByName(initial),
        target_path,
    )


def stream_maintain_aggregate(
    spark: SparkSession,
    events_path: str,
    event_schema: T.StructType,
    target_path: str,
    checkpoint_path: str,
    group_cols: list[str],
    sum_cols: dict[str, str],
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming incremental view maintenance: keep a grouped aggregate
    exact under a CDC event stream — per micro-batch, fold the batch's
    before/after images into signed per-group deltas
    (operators.incremental_agg.aggregate_deltas) and merge them into the
    maintained table (merge_aggregate: untouched groups anti-join
    through, zero-count groups vanish, NULL group keys match
    null-safely). The result replaces the table in one overwrite commit
    under ``txn=(app id, batch id)``, so a replayed batch is skipped.

    Per-batch work is O(batch + touched groups); the maintained table is
    GROUPS-sized, so the full rewrite per batch is tiny. State at no
    point rescans the underlying rows.

    Raises ValueError when ``checkpoint_path`` planned no batch up to
    the txn watermark the target already records for this stream.
    """
    check_stream_checkpoint(spark, checkpoint_path, target_path, _AGG_APP)
    from changedatacapture_reporting_spark.operators.incremental_agg import (
        aggregate_deltas,
        merge_aggregate,
    )

    source_struct = event_schema["after"].dataType
    stream = spark.readStream.schema(event_schema).parquet(events_path)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        session = batch_df.sparkSession
        current = read_aggregate(
            session, target_path, group_cols, sum_cols, source_struct
        )
        deltas = aggregate_deltas(batch_df, group_cols, sum_cols)
        write_delta(
            session,
            merge_aggregate(current, deltas, group_cols),
            target_path,
            mode="overwrite",
            txn=(_AGG_APP, int(epoch_id)),
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Streaming populate — the reference's incremental ETL as Structured
Streaming (SURVEY.md §2.9, build-plan step 5).

The reference simulates a stream with bounded LSN windows per proc run
(``(@from_lsn, @to_lsn]``, populate:241–253) and a +1-minute time watermark
(populate:203) that can both skip and double-load at boundaries. Structured
Streaming replaces all of it exactly:

- checkpoint offsets = the LSN window bookkeeping (ST1/ST2), exact;
- ``trigger(availableNow=True)`` = the README's "pass HIGHDATE … TO ENSURE
  COMPLETENESS" mode (ST3): drain everything available, then stop;
- the reference's TRY/CATCH "No changes were detected" swallow (ST5)
  becomes a genuinely empty micro-batch.

Exactly-once (ST6): ``foreachBatch`` alone is only at-least-once — the
engine replays a micro-batch whose epoch didn't reach the checkpoint
commit, and a blind ``mode('append')`` would duplicate those rows
(ADVICE r01). Here every micro-batch goes through the same
single-commit-point protocol as batch populate
(:func:`..operators.populate.commit_batch`) keyed by a deterministic
``epoch-<id>`` run id: a replayed epoch is detected in the sink's own
watermark sidecar and skipped, and a crash mid-publish is healed by
:func:`..operators.populate.recover_sink` on the next batch. Sink-side
idempotency + engine-side replay = exactly-once, with no reliance on the
checkpoint and the sink agreeing.

The per-batch transformation is the SAME builder as batch mode
(:func:`build_changelog`) inside ``foreachBatch`` — one code path for both
engines of execution, which is the point of the Spark re-design.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from changedatacapture_reporting_spark.config import CompatFlags
from changedatacapture_reporting_spark.operators.changelog import build_changelog
from changedatacapture_reporting_spark.operators.populate import (
    _committed_run_ids,
    commit_batch,
    recover_sink,
)
from changedatacapture_reporting_spark.sources.delta_table import (
    check_stream_checkpoint,
)

_DELTA_APP = "stream_populate"  # txn app id of the Delta sink's commits


def epoch_run_id(epoch_id: int) -> str:
    """Deterministic run id for a micro-batch: replays of the same epoch
    map to the same id, which is what makes them detectable."""
    return f"epoch-{epoch_id:020d}"


def stream_populate(
    spark: SparkSession,
    events_path: str,
    event_schema: T.StructType,
    sink_path: str,
    checkpoint_path: str,
    pk_cols: list[str],
    flags: CompatFlags | None = None,
    available_now: bool = True,
    salt_buckets: int | None = None,
    sink_format: str = "parquet",
) -> StreamingQuery:
    """Continuously (or drain-once) populate the changelog sink from a
    parquet event-stream directory.

    At scale the source would be Kafka/Kinesis/Delta-CDF; the parquet file
    source has the same offset/commit semantics so the pipeline code is
    source-agnostic.

    ``sink_format="delta"`` commits each micro-batch through the Delta
    writer with ``txn=("stream_populate", epoch_id)`` — the PROTOCOL's
    transaction action IS the exactly-once marker (a replayed epoch is
    skipped inside the commit, surviving checkpoints), so the parquet
    sink's run-id sidecar scan and recovery pass simply don't exist on
    this path. It raises ValueError when ``checkpoint_path`` planned no
    batch up to the txn watermark the sink already records for this
    stream: a new checkpoint would number its batches from 0 again and
    the watermark would skip them.
    """
    flags = flags or CompatFlags()
    if sink_format not in ("parquet", "delta"):
        raise ValueError(f"unsupported sink_format: {sink_format!r}")
    if sink_format == "delta":
        check_stream_checkpoint(spark, checkpoint_path, sink_path, _DELTA_APP)
    stream = spark.readStream.schema(event_schema).parquet(events_path)

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        session = batch_df.sparkSession
        if sink_format == "parquet":
            run_id = epoch_run_id(epoch_id)
            if run_id in _committed_run_ids(session, sink_path):
                # engine replayed an epoch the sink already committed
                # (crash landed between sink commit and checkpoint
                # commit)
                recover_sink(session, sink_path)  # finish its publish
                return
            recover_sink(session, sink_path)

        # same sink layout as batch populate: (table_name, commit_month)
        changelog = build_changelog(
            batch_df, pk_cols, flags=flags, carry_cols=["lsn", "seq"]
        ).withColumn("commit_month", F.trunc("commit_time", "month"))
        changelog.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if sink_format == "delta":
                from changedatacapture_reporting_spark.operators.populate import (  # noqa: E501
                    commit_batch_delta,
                )

                commit_batch_delta(
                    session,
                    changelog,
                    sink_path,
                    pk_cols,
                    salt_buckets=salt_buckets,
                    txn=(_DELTA_APP, int(epoch_id)),
                )
            else:
                commit_batch(
                    session,
                    changelog,
                    sink_path,
                    pk_cols,
                    run_id=run_id,
                    salt_buckets=salt_buckets,
                )
        finally:
            changelog.unpersist()

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

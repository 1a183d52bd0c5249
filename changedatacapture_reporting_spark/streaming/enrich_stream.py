"""Streaming point-in-time enrichment — decorate a fact stream with the
SCD2 dimension version valid at each fact's OWN timestamp (not
arrival time), the stream-static temporal join Structured Streaming
cannot express natively (the union+window carry is an unsupported
non-time window on a stream).

Per micro-batch the BATCH form runs instead: ``foreachBatch`` applies
``operators.temporal.temporal_enrich`` (batch facts × static dimension)
and appends the enriched rows to a Delta table through
``sources.delta_table.delta_stream_writer``. Each append carries the
PROTOCOL's transaction action ``txn=(app id, batch id)``: a replayed
batch is recognized by the app's recorded watermark and skipped, so
enrichment is exactly-once without trusting the checkpoint, and a
crash before the commit leaves only unreferenced files that readers
never open.

Scale posture: per-batch work is the batch-sized union+window (the
dimension's version-start rows ride along — dims are small next to
fact volume); the dimension snapshot is read per batch, so point it at
a materialized table (scd2_history output, a serving snapshot), not a
computed subtree. Late facts are HANDLED BY CONSTRUCTION: a fact
arriving days late still joins the version valid at its event time —
no watermark races, because the dimension's history is full SCD2, not
a stream-state buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from changedatacapture_reporting_spark.operators.temporal import (
    temporal_enrich,
)
from changedatacapture_reporting_spark.sources.delta_table import (
    check_stream_checkpoint,
    delta_stream_writer,
    read_delta,
    table_versions,
)

_ENRICH_APP = "stream_temporal_enrich"


def stream_temporal_enrich(
    spark: SparkSession,
    facts_path: str,
    fact_schema: T.StructType,
    dim: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key_cols: list[str],
    fact_ts_col: str,
    value_cols: list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Drain a fact stream through per-batch temporal enrichment into a
    Delta table at ``out_path``. ``dim`` is an SCD2 frame
    (key + value cols + valid_from/valid_to), evaluated per batch.
    Raises ValueError when ``checkpoint_path`` planned no batch up to
    the txn watermark ``out_path`` already records for this stream."""
    check_stream_checkpoint(spark, checkpoint_path, out_path, _ENRICH_APP)
    stream = spark.readStream.schema(fact_schema).parquet(facts_path)
    append = delta_stream_writer(out_path, _ENRICH_APP)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        append(
            temporal_enrich(batch_df, dim, key_cols, fact_ts_col, value_cols),
            epoch_id,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_enriched(
    spark: SparkSession,
    out_path: str,
    fact_schema: T.StructType,
    dim: DataFrame,
    value_cols: list[str],
) -> DataFrame:
    """The enriched table's latest version (an empty typed frame — fact
    fields + the dimension's own value types — before the first
    commit)."""
    if table_versions(spark, out_path):
        return read_delta(spark, out_path)
    fields = list(fact_schema.fields) + [
        T.StructField(c, dim.schema[c].dataType) for c in value_cols
    ]
    return spark.createDataFrame([], T.StructType(fields))

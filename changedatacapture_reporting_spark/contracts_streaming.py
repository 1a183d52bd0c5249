"""Streaming contract queries: the REAL Structured Streaming engine runs
(availableNow drain into a memory sink) and the result is compared against
the same DuckDB SQL as the batch analogs — streaming execution, batch
semantics, one oracle.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changedatacapture_reporting_spark.contracts_relational import (
    ORACLE_EV,
    SQL_SCD2_ENRICH,
    SQL_SESSIONS,
    SQL_TUMBLING,
)
from changedatacapture_reporting_spark.sources.cdc_simulator import (
    ORACLE_EVENTS_CTE,
)
from changedatacapture_reporting_spark.streaming.windows import (
    enriched_segment_counts,
    sliding_counts,
    streaming_sessions,
    tumbling_counts,
)

_counter = itertools.count()
# floor and cap of the scaled streaming state-store partition count
_STATE_PARTITIONS_MIN = 4
_STATE_PARTITIONS_MAX = 1024


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = os.path.join(sf_dir, "events.parquet")
    # the streaming file source wants a directory — expose the (read-only)
    # fixture file through a temp dir symlink, no data copy
    import tempfile

    d = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(path, os.path.join(d, "events.parquet"))
    raw_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(raw_schema).parquet(d)
    # same dtype-branching ts normalization as the batch loader, so the
    # stream survives fixture re-encodings (nanos-as-long vs native µs)
    from changedatacapture_reporting_spark.sources.tables import (
        normalize_events_ts,
    )

    return normalize_events_ts(stream)


def _scaled_state_partitions(sf_dir: str) -> int:
    """Streaming state-store partition count derived from the INPUT
    size (optimization guide §2: make partitioning scale-adaptive —
    derive it from the data — instead of a constant tuned for either
    local mode or the cluster). Every shuffle partition of a stateful
    stream is a STATE STORE: a provider instance with its own
    checkpoint directory, per-micro-batch delta file and fsync, so the
    fixed per-batch cost is O(partitions) regardless of data. ~32 MB
    of input per state partition keeps that overhead proportional to
    the work (a 2 MB fixture drains through 4 stores, not 32; a
    100 TB/day stream saturates the 1024 cap and parallelism comes
    from there). Floor 4 preserves multi-partition semantics
    (cross-partition watermark/commit coordination stays exercised)."""
    import math

    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
    except OSError:
        pass
    return max(
        _STATE_PARTITIONS_MIN,
        min(_STATE_PARTITIONS_MAX, math.ceil(total / (32 << 20))),
    )


def _drain_to_table(
    spark: SparkSession,
    agg: DataFrame,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    name = f"stream_contract_{next(_counter)}"
    # the stream's state-store partition count is pinned from
    # spark.sql.shuffle.partitions at FIRST batch; scope the scaled
    # value to the drain and restore the session default after
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(state_partitions)
        )
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"stream contract {name} did not drain within 300s"
            )
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def streaming_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows, executed by the streaming engine."""
    out = _drain_to_table(
        spark,
        tumbling_counts(_events_stream(spark, sf_dir)),
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.select("window_start", "event_type", "n_events", "sum_value")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(30 min gap) per user, executed by the streaming
    engine; oracle is the batch lag+cumsum sessionization SQL."""
    out = _drain_to_table(
        spark,
        streaming_sessions(_events_stream(spark, sf_dir)),
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.select("user_id", "session_start", "session_end", "n_events")


# same grouping as SQL_SESSIONS but keyed/projected like session_window
SQL_STREAM_SESSIONS = f"""
WITH {ORACLE_EV},
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""


def streaming_sliding_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min window / 5 min slide) via the streaming
    engine; oracle expands each event into its two covering windows."""
    out = _drain_to_table(
        spark,
        sliding_counts(_events_stream(spark, sf_dir)),
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.select("window_start", "event_type", "n_events")


SQL_SLIDING = f"""
WITH {ORACLE_EV},
expanded AS (
  SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000
                        - s.shift * 300000000) AS window_start,
         event_type
  FROM ev, (SELECT 0 AS shift UNION ALL SELECT 1) s
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM expanded
GROUP BY 1, 2
"""


def _current_state_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink plan for the stateful current-state view (shared by the
    contract below and the --streaming plan audit)."""
    import tempfile

    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        SIM_PK,
        simulate_cdc_events,
    )
    from changedatacapture_reporting_spark.streaming.stateful import (
        current_state_stream,
    )

    d = tempfile.mkdtemp(prefix="cdc_state_stream_")
    simulate_cdc_events(spark, sf_dir).write.parquet(f"{d}/ev")
    schema = spark.read.parquet(f"{d}/ev").schema
    stream = spark.readStream.schema(schema).parquet(f"{d}/ev")
    return current_state_stream(
        stream, SIM_PK, ["status", "priority", "total", "note"]
    )


def streaming_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState materialized current-state view over the
    simulated CDC stream (streaming.stateful.current_state_stream), drained
    through the real streaming engine. One event per key in the simulator,
    so the oracle is the per-event last image; multi-batch statefulness is
    covered by test_streaming.py::test_streaming_current_state_multibatch."""
    out = _current_state_pre_sink(spark, sf_dir)
    drained = _drain_to_table(
        spark, out, mode="update",
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return drained.select(
        "o_orderkey", "status", "priority", "total", "note", "is_live", "as_of_lsn"
    )


SQL_CURRENT_STATE = f"""
WITH {ORACLE_EVENTS_CTE}
SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
       CASE WHEN op = 'delete' THEN NULL ELSE a_status END AS status,
       CASE WHEN op = 'delete' THEN NULL ELSE a_priority END AS priority,
       CASE WHEN op = 'delete' THEN NULL ELSE CAST(a_total AS VARCHAR) END AS total,
       CASE WHEN op = 'delete' THEN NULL ELSE a_note END AS note,
       op <> 'delete' AS is_live,
       lsn AS as_of_lsn
FROM ev
"""


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming.dedup.streaming_dedup) on
    (user_id, event_type), executed by the streaming engine. Which row
    wins per key depends on arrival order, so the contract compares the
    deterministic part: the emitted key set must be exactly the batch
    DISTINCT, with one row each."""
    out = _drain_to_table(
        spark, _dedup_keys_pre_sink(spark, sf_dir), mode="append",
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n_rows")
    )


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, CAST(1 AS BIGINT) AS n_rows
FROM events
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming.joins): purchases joined to
    same-user signups within the 2-hour attribution window BEFORE the
    purchase — both sides live watermarked streams; state is bounded by
    watermark + interval, and the inner join's emitted matches must equal
    the batch join exactly."""
    out = _drain_to_table(
        spark, _interval_join_pre_sink(spark, sf_dir), mode="append",
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.select(
        "purchase_event_id", "user_id", "purchase_ts",
        "signup_event_id", "signup_ts",
    )


SQL_STREAM_INTERVAL_JOIN = f"""
WITH {ORACLE_EV}
SELECT p.event_id AS purchase_event_id, p.user_id, p.ts AS purchase_ts,
       s.event_id AS signup_event_id, s.ts AS signup_ts
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
  ON p.user_id = s.user_id
 AND s.ts <= p.ts
 AND s.ts >= p.ts - INTERVAL 2 HOUR
"""


def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static star join: events stream enriched with the broadcast
    customer dim, windowed counts/sums per market segment — executed by
    the streaming engine; oracle is the equivalent batch join+window
    SQL."""
    out = _drain_to_table(
        spark, _enriched_segments_pre_sink(spark, sf_dir),
        state_partitions=_scaled_state_partitions(sf_dir),
    )
    return out.select("window_start", "segment", "n_events", "sum_value")


SQL_STREAM_ENRICHED = f"""
WITH {ORACLE_EV}
SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
       c_mktsegment AS segment, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM ev JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def _interval_join_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from changedatacapture_reporting_spark.streaming.joins import (
        interval_join_purchases_signups,
    )

    p = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    s = _events_stream(spark, sf_dir).filter(F.col("event_type") == "signup")
    return interval_join_purchases_signups(p, s)


def _enriched_segments_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from changedatacapture_reporting_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer")
    return enriched_segment_counts(_events_stream(spark, sf_dir), dim)


def _dedup_keys_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from changedatacapture_reporting_spark.streaming.dedup import (
        streaming_dedup,
    )

    # the watermark-bounded regime (state O(keys per horizon), the 100 TB
    # path — flagged by audit_plans --streaming when it was unbounded
    # dropDuplicates). 30 days dwarfs the fixture's time span, so within
    # this drain no key's state expires and the emitted key set is still
    # exactly the batch DISTINCT.
    return streaming_dedup(
        _events_stream(spark, sf_dir),
        ["user_id", "event_type"],
        within_watermark="30 days",
    )


# Pre-sink streaming plans, one per streaming_* contract entry: the
# UNSTARTED streaming DataFrame each contract drains. tools/audit_plans.py
# --streaming explains these (no execution, no availableNow drain) and
# flags unbounded-state shapes — a stateful operator with no
# EventTimeWatermark ancestor in the plan.
def streaming_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized current-state table
    (streaming.apply_stream.stream_apply): the multi-event stream drains
    through per-batch net-changes + a Delta MERGE by pk, each commit
    carrying the txn action (app id, batch id). The oracle computes the
    end state from the event arithmetic (net delete keys vanish —
    including insert→delete inside the window; second-update keys carry
    status 'Y' / total+7). Multi-batch sequencing, replay idempotence,
    and crash semantics are pytest-covered
    (test_streaming.py::test_stream_apply_maintains_current_state)."""
    import tempfile

    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        SIM_PK,
        simulate_cdc_events_multi,
    )
    from changedatacapture_reporting_spark.streaming.apply_stream import (
        read_current_state,
        stream_apply,
    )

    d = tempfile.mkdtemp(prefix="cdc_apply_stream_")
    ev = simulate_cdc_events_multi(spark, sf_dir)
    ev.write.parquet(f"{d}/ev")
    schema = spark.read.parquet(f"{d}/ev").schema
    value_cols = ["status", "priority", "total", "note"]
    q = stream_apply(
        spark, f"{d}/ev", schema, f"{d}/target", f"{d}/ckpt", SIM_PK, value_cols
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_apply did not drain within 300s; refusing to read a "
            "partially-applied target (would surface as a hash mismatch)"
        )
    src = schema["after"].dataType
    return read_current_state(spark, f"{d}/target", SIM_PK, value_cols, src)


SQL_STREAM_APPLY = f"""
WITH {ORACLE_EVENTS_CTE}
SELECT o_orderkey,
       CASE WHEN o_orderkey % 4 = 1 THEN 'Y' ELSE a_status END AS status,
       a_priority AS priority,
       a_total + CASE WHEN o_orderkey % 4 = 1 THEN 7 ELSE 0 END AS total,
       a_note AS note
FROM ev
WHERE op != 'delete' AND o_orderkey % 20 NOT IN (5, 11)
"""


def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVM (streaming.apply_stream.stream_maintain_aggregate):
    bootstrap the per-status (count, total-sum) aggregate from the
    pre-change state, then drain the CDC stream — each micro-batch folds
    into signed deltas and merges; state is never rescanned. The oracle
    is the from-scratch GROUP BY of the post-stream state (the batch
    cdc_incremental_agg contract's oracle, reached here through the live
    streaming engine + Delta overwrite commits carrying the txn action).
    Multi-batch sequencing, group death, and replay idempotence are
    pytest-covered
    (test_streaming.py::test_stream_maintain_aggregate_equals_direct)."""
    import tempfile

    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        simulate_cdc_events,
    )
    from changedatacapture_reporting_spark.streaming.apply_stream import (
        bootstrap_aggregate,
        read_aggregate,
        stream_maintain_aggregate,
    )

    d = tempfile.mkdtemp(prefix="cdc_ivm_stream_")
    ev = simulate_cdc_events(spark, sf_dir)
    ev.write.parquet(f"{d}/ev")
    schema = spark.read.parquet(f"{d}/ev").schema
    base = (
        ev.filter(F.col("op") != "insert")
        .select("before.*")
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("total").cast("long").alias("sum_total"),
        )
    )
    bootstrap_aggregate(spark, f"{d}/target", base)
    q = stream_maintain_aggregate(
        spark, f"{d}/ev", schema, f"{d}/target", f"{d}/ckpt",
        ["status"], {"sum_total": "total"},
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_maintain_aggregate did not drain within 300s; "
            "refusing to read a partially-maintained aggregate"
        )
    return read_aggregate(
        spark, f"{d}/target", ["status"], {"sum_total": "total"},
        schema["after"].dataType,
    )


SQL_STREAM_IVM = f"""
WITH {ORACLE_EVENTS_CTE}
SELECT a_status AS status,
       COUNT(*) AS n_rows,
       CAST(SUM(a_total) AS BIGINT) AS sum_total
FROM ev
WHERE op != 'delete'
GROUP BY 1
"""


def streaming_pointintime_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming temporal enrichment (streaming.enrich_stream.
    stream_temporal_enrich): the orders facts drain as a stream and each
    micro-batch joins the SCD2 customer dimension AT THE FACT'S OWN
    timestamp (batch temporal_enrich inside foreachBatch, Delta appends
    whose txn action makes them exactly-once) — late facts enrich
    correctly by construction. The oracle is the batch contract's
    interval LEFT JOIN (the per-batch commits must not change results).
    Replay idempotence is pytest-covered."""
    import tempfile

    from changedatacapture_reporting_spark.sources.tables import load_table
    from changedatacapture_reporting_spark.streaming.enrich_stream import (
        read_enriched,
        stream_temporal_enrich,
    )

    c = load_table(spark, sf_dir, "customer")
    cut = F.lit("1995-07-01").cast("timestamp")
    late = F.lit("1996-07-01").cast("timestamp")
    v0 = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        F.floor("c_acctbal").cast("long").alias("bal"),
        F.lit("1992-01-01").cast("timestamp").alias("valid_from"),
        cut.alias("valid_to"),
    )
    v1 = c.select(
        F.col("c_custkey").alias("k"),
        F.concat(F.col("c_mktsegment"), F.lit("+")).alias("segment"),
        (F.floor("c_acctbal").cast("long") + 100).alias("bal"),
        F.when(F.col("c_custkey") % 7 == 0, late)
        .otherwise(cut)
        .alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    dim = v0.unionByName(v1).localCheckpoint()

    o = load_table(spark, sf_dir, "orders")
    facts = o.select(
        "o_orderkey",
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
    )
    d = tempfile.mkdtemp(prefix="cdc_enrich_stream_")
    facts.write.parquet(f"{d}/facts")
    schema = spark.read.parquet(f"{d}/facts").schema
    q = stream_temporal_enrich(
        spark, f"{d}/facts", schema, dim, f"{d}/out", f"{d}/ckpt",
        ["k"], "ts", ["segment", "bal"],
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_temporal_enrich did not drain within 300s; refusing "
            "to read a partially-enriched target"
        )
    return read_enriched(spark, f"{d}/out", schema, dim, ["segment", "bal"])


def _enrich_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink plan: pass-through into foreachBatch (temporal_enrich
    runs per batch — the batch-side plan is audited via
    scd2_pointintime_enrich); expose the source projection."""
    import tempfile

    from changedatacapture_reporting_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="cdc_enrich_plan_")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
    )
    o.write.parquet(f"{d}/facts")
    schema = spark.read.parquet(f"{d}/facts").schema
    return spark.readStream.schema(schema).parquet(f"{d}/facts")


def _ivm_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink plan: pass-through into foreachBatch (deltas + merge run
    per batch inside it — the batch-side plan is audited via
    cdc_incremental_agg); expose the source projection."""
    import tempfile

    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        simulate_cdc_events,
    )

    d = tempfile.mkdtemp(prefix="cdc_ivm_plan_")
    simulate_cdc_events(spark, sf_dir).write.parquet(f"{d}/ev")
    schema = spark.read.parquet(f"{d}/ev").schema
    return spark.readStream.schema(schema).parquet(f"{d}/ev")


def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LM quality gate (streaming.quality_gate): the documents
    corpus streams in as 4 micro-batches (maxFilesPerTrigger=1), each
    scored inside foreachBatch against the PERSISTED epoch LM (lm_counts
    parquet round-tripped, as an index store would serve it) and
    committed through idempotent per-batch-id parquet writes. Documents
    are row-atomic and the model is epoch-static, so per-doc scores
    decompose exactly per batch — the drained union must equal the batch
    corpus_lm_surprisal result row-for-row, which is what the shared
    oracle checks (streaming execution, batch semantics, one oracle)."""
    import tempfile

    from changedatacapture_reporting_spark.operators.lm import lm_counts
    from changedatacapture_reporting_spark.sources.tables import load_table
    from changedatacapture_reporting_spark.streaming.quality_gate import (
        read_scored,
        stream_score_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="docs_quality_stream_")
    docs.repartition(4).write.parquet(f"{d}/src")
    schema = spark.read.parquet(f"{d}/src").schema
    bg, uni = lm_counts(docs)
    bg.write.parquet(f"{d}/model/bg")
    uni.write.parquet(f"{d}/model/uni")
    counts = (
        spark.read.parquet(f"{d}/model/bg"),
        spark.read.parquet(f"{d}/model/uni"),
    )
    q = stream_score_documents(
        spark, f"{d}/src", schema, counts, f"{d}/out", f"{d}/ckpt"
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "quality-gate stream did not drain within 300s; refusing to "
            "read a partial score set"
        )
    return read_scored(spark, f"{d}/out").select(
        "doc_id",
        "n_tokens",
        "n_bigrams",
        "sum_bigram_freq",
        "n_hapax_bigrams",
        "n_rare_bigrams",
        "flagged",
    )


def _quality_gate_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink plan: pass-through into foreachBatch (the scoring plan is
    audited batch-side via corpus_lm_surprisal); expose the streaming
    source projection."""
    import tempfile

    from changedatacapture_reporting_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="docs_quality_plan_")
    load_table(spark, sf_dir, "documents").write.parquet(f"{d}/src")
    schema = spark.read.parquet(f"{d}/src").schema
    return spark.readStream.schema(schema).parquet(f"{d}/src")


def _apply_state_pre_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-sink plan: the stream itself is a pass-through into
    foreachBatch (net_changes + apply run per batch inside it), so the
    audit covers the batch-side plan via cdc_apply_net_changes; here we
    expose the source projection."""
    import tempfile

    from changedatacapture_reporting_spark.sources.cdc_simulator import (
        simulate_cdc_events_multi,
    )

    d = tempfile.mkdtemp(prefix="cdc_apply_plan_")
    simulate_cdc_events_multi(spark, sf_dir).write.parquet(f"{d}/ev")
    schema = spark.read.parquet(f"{d}/ev").schema
    return spark.readStream.schema(schema).parquet(f"{d}/ev")


STREAM_PLANS = {
    "streaming_quality_gate": _quality_gate_pre_sink,
    "streaming_apply_state": _apply_state_pre_sink,
    "streaming_incremental_agg": _ivm_pre_sink,
    "streaming_pointintime_enrich": _enrich_pre_sink,
    "streaming_tumbling_5min": lambda spark, sf: tumbling_counts(
        _events_stream(spark, sf)
    ),
    "streaming_session_windows": lambda spark, sf: streaming_sessions(
        _events_stream(spark, sf)
    ),
    "streaming_sliding_10min": lambda spark, sf: sliding_counts(
        _events_stream(spark, sf)
    ),
    "streaming_current_state": _current_state_pre_sink,
    "streaming_dedup_keys": _dedup_keys_pre_sink,
    "streaming_interval_join": _interval_join_pre_sink,
    "streaming_enriched_segments": _enriched_segments_pre_sink,
}


from changedatacapture_reporting_spark.contracts_llm import (  # noqa: E402
    SQL_LM_SURPRISAL,
)

REGISTRY_STREAMING = {
    "streaming_quality_gate": (streaming_quality_gate, SQL_LM_SURPRISAL),
    "streaming_apply_state": (streaming_apply_state, SQL_STREAM_APPLY),
    "streaming_incremental_agg": (streaming_incremental_agg, SQL_STREAM_IVM),
    "streaming_pointintime_enrich": (streaming_pointintime_enrich, SQL_SCD2_ENRICH),
    "streaming_enriched_segments": (
        streaming_enriched_segments,
        SQL_STREAM_ENRICHED,
    ),
    "streaming_interval_join": (
        streaming_interval_join,
        SQL_STREAM_INTERVAL_JOIN,
    ),
    "streaming_tumbling_5min": (streaming_tumbling_5min, SQL_TUMBLING),
    "streaming_session_windows": (streaming_session_windows, SQL_STREAM_SESSIONS),
    "streaming_sliding_10min": (streaming_sliding_10min, SQL_SLIDING),
    "streaming_current_state": (streaming_current_state, SQL_CURRENT_STATE),
    "streaming_dedup_keys": (streaming_dedup_keys, SQL_STREAM_DEDUP),
}

"""Structured Streaming wing (SURVEY.md §2.9, §7 Phase 4).

The reference is a weekly batch (planning_center_dag.py:23) — no
streaming — but the engine's `events` surface is stream-first: the same
aggregations exposed in plans/events.py run here as real
streaming queries with watermarks.  Tests drive them with a file source
over the test parquet and a memory sink (processAllAvailable), which
exercises the genuine incremental execution path.

Scale notes: in production the source is Kafka/files-on-arrival; state
stores (window aggs, dedup, sessions) are keyed by the groupBy columns
and sharded across executors; watermarks bound state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based event stream (one file = one micro-batch in tests;
    swap for Kafka via .format('kafka') in production)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 5-minute windows with late-data bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("value_cents").cast("double") / 100.0).alias("value_sum"),
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (session_window merges events within the
    gap); streaming twin of plans/events.ev_sessionize."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup on event_id within the watermark — the
    streaming analogue of the batch keep-first operator."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_stream_with_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against the (small,
    broadcast) static dimension — the streaming analogue of the
    reference's per-row config/dimension lookups.  The static side is
    re-resolvable per batch (picks up dim refreshes on file sources);
    no state store involved, unlike stream-stream joins."""
    return events.join(F.broadcast(dim), "user_id", "left")


STATEFUL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("total_cents", T.LongType(), True),
    ]
)

STATEFUL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), True),
        T.StructField("cents", T.LongType(), True),
    ]
)


def interval_join_clicks_purchases(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to every
    click by the same user in the preceding hour.

    Both sides are watermarked so the state store can evict: a click
    older than (purchase watermark - 1h) can never match again.  The
    join condition gives Spark the bound it needs to size state —
    without the time-range predicate a stream-stream inner join would
    buffer both sides forever.  Batch twin (oracle-checked):
    plans/events.ev_interval_join.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")


def interval_join_clicks_purchases_outer(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    joined to preceding-hour clicks when they exist, with null click
    columns otherwise.

    Outer emission semantics (the part inner joins don't have): a
    purchase's null row can only be emitted once the WATERMARK has
    passed the end of its match window — before that, a matching click
    could still arrive.  So unmatched results trail the data by
    (watermark + interval bound), and a drained-but-not-advanced
    stream holds them back entirely; tests advance the watermark with
    a sentinel event.  State sizing is identical to the inner variant:
    both sides watermarked + the time-range bound."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") > F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("purchase_id", "user_id", "click_id", "click_ts", "purchase_ts")


def joined_purchase_rate_windows(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Windowed aggregation CHAINED AFTER a stream-stream join — two
    stateful operators in one query (join state + window state), which
    Structured Streaming only supports when every stateful stage sees
    a watermarked event-time column (Spark 3.4+ multi-stateful
    pipelines).  Counts click-attributed purchases per tumbling hour
    of the purchase time.

    Scale note: state is bounded stage-by-stage — the join holds
    (watermark + 1h) of both sides keyed by user, the window holds one
    open hour per key — so total state is additive, not multiplied."""
    joined = interval_join_clicks_purchases(events, watermark)
    return (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
        )
        .select(F.col("w.start").alias("window_start"), "n_attributed", "n_users_approx")
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, exact-cents spend), emitted each micro-batch the
    user appears in.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (per-key custom accumulators, ML
    feature state, CEP-ish logic).  State is sharded by the groupBy
    key across executors exactly like built-in streaming aggs; cents
    are int64 so totals are exact and order-independent.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(round(pdf["value"].fillna(0.0).mul(100).round()).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=STATEFUL_OUTPUT_SCHEMA,
        stateStructType=STATEFUL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_TIMEOUT_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
SESSION_TIMEOUT_STATE_SCHEMA = "start_us long, last_us long, n long"


def stateful_sessions_timeout(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "0 seconds"
) -> DataFrame:
    """Custom sessionizer via applyInPandasWithState + EVENT-TIME
    TIMEOUT — the pattern native session_window can't express when the
    session needs custom close logic (emit-on-close only, per-session
    derived state, side effects at expiry).

    Per user, events merge into the open session while gaps stay
    under `gap_minutes`; a wider gap INSIDE a batch closes and emits
    the earlier session immediately.  The open session registers a
    timeout at (last event + gap); when the WATERMARK passes it, Spark
    calls the function with hasTimedOut=True and the session is
    emitted and its state removed — so sessions close exactly when
    event time says they must, not when the next event happens to
    arrive.  State per key is three int64s; output is closed sessions
    only (append semantics).

    Ordering contract: within a batch rows are sorted by event time
    here; events arriving in a LATER batch with earlier timestamps
    than an already-closed session are a watermark violation and may
    start a spurious session — set `watermark` to the real disorder
    bound (tests replay in one batch + sentinel flush).

    Equivalence scope: matches batch session_window exactly for (a)
    in-order delivery and (b) a single late batch whose within-
    watermark events merge into or precede the open session (tested
    orderings).  NOT exact under one adversarial ordering: a late
    prefix sub-session that sits > gap before the open session's start
    is sealed IMMEDIATELY, so a yet-later batch delivering
    within-watermark events that would bridge the two (batch
    session_window would merge them) sees the earlier piece already
    emitted.  Exactness there would require holding unsealed late
    sub-sessions in state until the watermark passes their end + gap —
    a bigger state shape (list of open intervals per key) than the
    three-int64 state this operator deliberately keeps."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        def emit(start_us, last_us, n):
            # end = last event + gap: session_window's convention, so
            # the batch twin compares key-for-key
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us + gap_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        ts_us = []
        for pdf in pdf_iter:
            if len(pdf):
                ts_us.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf["ts"])
                )
        ts_us.sort()
        if not ts_us:
            return
        closed = []
        if state.exists:
            s_start, s_last, s_n = state.get
            # Late-but-within-watermark events from a LATER batch may
            # predate the open session's start.  session_window (the
            # batch twin) extends the session backward when they fall
            # within `gap` of it, and gives them their OWN session(s)
            # when they don't — mirror both cases so output matches
            # under cross-batch disorder with nonzero watermark.
            late = [t for t in ts_us if t < s_start]
            ts_us = [t for t in ts_us if t >= s_start]
            if late:
                l_start = l_last = late[0]
                l_n = 0
                for t in late:
                    if t - l_last > gap_us:
                        closed.append((l_start, l_last, l_n))
                        l_start, l_n = t, 0
                    l_last, l_n = t, l_n + 1
                if s_start - l_last > gap_us:
                    # disjoint prefix session, already sealed by the
                    # open session's existence
                    closed.append((l_start, l_last, l_n))
                    start_us, last_us, n = s_start, s_last, s_n
                else:
                    start_us, last_us, n = l_start, s_last, s_n + l_n
            else:
                start_us, last_us, n = s_start, s_last, s_n
        else:
            start_us, last_us, n = ts_us[0], ts_us[0], 0
        for t in ts_us:
            if t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        # close the open session when the watermark passes last + gap;
        # clamp to just past the CURRENT watermark — a batch can carry
        # only late-but-valid events for this key while other keys have
        # already dragged the watermark past last+gap, and an
        # in-the-past timeout raises instead of firing
        state.setTimeoutTimestamp(
            max((last_us + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
        )
        for c in closed:
            yield emit(*c)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_TIMEOUT_OUTPUT_SCHEMA,
            stateStructType=SESSION_TIMEOUT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_update_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Update-mode variant for stateful operators; the memory table
    accumulates one row per (key, micro-batch) — take the latest row
    per key for final state."""
    q = (
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming DataFrame to completion over a bounded file
    source and return the materialized result (test harness)."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_append_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Append-mode variant for dedup/passthrough streams."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stateful_user_profile_v2(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the arbitrary-state v2 API
    (transformWithStateInPandas, Spark 4): per-user running profile
    (count, exact-cents total, max single event) held in a ValueState.

    v2 advantages over applyInPandasWithState used above: typed named
    state slots (value/list/map) instead of one opaque tuple, timer
    support, and initial-state bootstrap. All accumulators here are
    order-independent (count/sum/max over int64), so the final state is
    identical for any micro-batch arrival order — the property the
    equivalence test asserts against the batch aggregation.

    Environment note: the transformWithState runtime needs a working
    google.protobuf, which this container lacks — the equivalence test
    skips when the import fails (same policy as the multimodal decode
    stub).  The operator itself is plain public API and runs unchanged
    where protobuf is installed.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "profile", "n BIGINT, cents BIGINT, max_cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, cents, max_cents = self._state.get()
            else:
                n, cents, max_cents = 0, 0, None
            for pdf in rows:
                batch_cents = pdf["value"].fillna(0.0).mul(100).round()
                n += len(pdf)
                cents += int(batch_cents.sum())
                bmax = int(batch_cents.max()) if len(pdf) else None
                if bmax is not None:
                    max_cents = bmax if max_cents is None else max(max_cents, bmax)
            self._state.update((n, cents, max_cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "max_cents": [max_cents],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfile(),
        outputStructType=(
            "user_id long, n_events long, total_cents long, max_cents long"
        ),
        outputMode="Update",
        timeMode="None",
    )


def cms_bucket_rows(
    df: DataFrame, item_col: str, n_rows: int = 4, width: int = 64
) -> DataFrame:
    """(j, bucket) hash rows for a count-min sketch over item_col —
    the md5 family shared with the batch CMS (plans/documents_text.py), so
    streaming-maintained counters are directly comparable/mergeable
    with batch-built ones."""
    from planning_center_data_pipeline_spark.operators.dedup import md5_hash60

    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            md5_hash60(F.col(item_col).cast("string"), seed=j)
                            % width
                        ).alias("bucket"),
                    )
                    for j in range(n_rows)
                ]
            )
        ).alias("rb")
    ).select("rb.j", "rb.bucket")


CMS_OUTPUT_SCHEMA = "j int, bucket bigint, cnt long"
CMS_STATE_SCHEMA = "cnt long"


def streaming_cms_counts(events: DataFrame, item_col: str = "user_id") -> DataFrame:
    """Streaming count-min sketch: per-(hash row, bucket) counters
    maintained as keyed state via applyInPandasWithState, emitted each
    micro-batch they change.  Counters only ever add, so the sketch is
    mergeable across streams/shards by summing — the same property the
    batch CMS exploits; heavy-hitter estimates read MIN over the item's
    n_rows counters at any point in time."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = cms_bucket_rows(events, item_col)

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (cnt,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame(
            {"j": [key[0]], "bucket": [key[1]], "cnt": [cnt]}
        )

    return rows.groupBy("j", "bucket").applyInPandasWithState(
        update,
        outputStructType=CMS_OUTPUT_SCHEMA,
        stateStructType=CMS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RESERVOIR_OUTPUT_SCHEMA = (
    "event_type string, event_id long, aes_key double, n_seen long"
)
RESERVOIR_STATE_SCHEMA = (
    "ids array<long>, keys array<double>, n_seen long"
)


def streaming_weighted_reservoir(
    events: DataFrame, k: int = 20
) -> DataFrame:
    """Streaming stratified A-ES weighted reservoir: per event_type,
    the k events with the largest ln(u)/w keys seen SO FAR (weight =
    value, zero/negative weights excluded — the same contract as
    operators/sampling.weighted_sample).

    The A-ES key is a per-row expression computed BEFORE the stateful
    op (so the portable-md5 determinism carries over unchanged); state
    per stratum is just the current top-k (ids, keys) pair of arrays —
    O(k), bounded forever, which is the whole point of reservoir
    sampling over streams.  Because the key ordering is global and
    deterministic, the streamed reservoir after N rows equals the
    batch weighted_sample over the same N rows EXACTLY — tested in
    tests/test_streaming.py.  n_seen rides along so consumers (and the
    equivalence test) can identify each stratum's latest emission
    under update mode."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from planning_center_data_pipeline_spark.operators.sampling import aes_key

    rows = events.filter(F.col("value") > 0).select(
        "event_type",
        "event_id",
        aes_key(F.col("event_id"), F.col("value")).alias("aes_key"),
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            ids, keys, n_seen = state.get
            ids, keys = list(ids), list(keys)
        else:
            ids, keys, n_seen = [], [], 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            ids.extend(int(i) for i in pdf["event_id"])
            keys.extend(float(x) for x in pdf["aes_key"])
        # keep the top-k by (key desc, id asc) — A-ES without replacement
        order = sorted(range(len(ids)), key=lambda i: (-keys[i], ids[i]))[:k]
        ids = [ids[i] for i in order]
        keys = [keys[i] for i in order]
        state.update((ids, keys, n_seen))
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "event_id": ids,
                "aes_key": keys,
                "n_seen": n_seen,
            }
        )

    return rows.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=RESERVOIR_OUTPUT_SCHEMA,
        stateStructType=RESERVOIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# The wire schema every Kafka record's JSON value deserializes into —
# identical to the file source's event schema so every query in this
# module runs unchanged against a broker.
KAFKA_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def kafka_reader_options(
    bootstrap_servers: str, topic: str, starting_offsets: str = "earliest"
) -> dict[str, str]:
    """The exact option surface handed to the Kafka DSv2 source —
    factored out so the contract is testable without a broker."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # at-least-once + downstream idempotent sinks; losing offsets
        # to retention should fail loudly, not skip silently
        "failOnDataLoss": "true",
    }


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Deserialize Kafka's fixed output relation (key/value binary,
    topic, partition, offset, timestamp...) into the event schema.
    Pure projection — works identically on a real Kafka stream or a
    constructed test DataFrame with the same columns."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), KAFKA_EVENT_SCHEMA).alias("e")
    ).select("e.*")


def parse_kafka_events_avro(raw: DataFrame) -> DataFrame:
    """Avro twin of parse_kafka_events: deserialize a binary `value`
    column carrying Avro-encoded event records.  Uses the jar-free
    pure-Python codec (functions/serde.py, wire-verified against the
    JVM Avro library); on a cluster with the spark-avro connector the
    same contract is serde.decode_events_avro — swap is one line.
    Works identically on a real Kafka stream or any DataFrame with a
    binary `value` column (stateless mapInPandas, streaming-safe)."""
    from planning_center_data_pipeline_spark.functions.serde import (
        decode_events_avro_py,
    )

    return decode_events_avro_py(raw.select("value"))


def read_event_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka twin of read_event_stream: same post-source schema, so
    every query in this module runs unchanged against a broker.

    Requires the spark-sql-kafka connector on the classpath (submit
    with --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>);
    this container has no broker or connector, so calling this here
    raises at stream resolution.  The two halves are contract-tested
    independently: `kafka_reader_options` (option surface) and
    `parse_kafka_events` (deserialization over a constructed
    Kafka-shaped DataFrame)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, starting_offsets
    ).items():
        reader = reader.option(k, v)
    return parse_kafka_events(reader.load())


def apply_partition_overwrite_batch(
    batch_df: DataFrame,
    target: str,
    partition_col: str = "day",
    batch_id: int | None = None,
) -> None:
    """foreachBatch body for an idempotent partitioned sink: write the
    micro-batch with DYNAMIC partition overwrite, replacing exactly
    the partitions the batch touches.

    Exactly-once story: the checkpoint gives at-least-once batch
    delivery; as long as every micro-batch carries COMPLETE
    partitions (e.g. whole days — arrange upstream via per-day files
    or a watermark-closed window), replaying a batch after a crash
    rewrites the same partitions with the same bytes instead of
    appending duplicates.  Idempotence at partition granularity is
    what turns at-least-once delivery into an exactly-once table.

    The completeness requirement is ENFORCED, not assumed: when
    `batch_id` is provided, a manifest sidecar under
    `{target}/_partition_manifest/` records which batch owns each
    partition value.  A batch touching a value owned by a DIFFERENT
    earlier batch is a split partition — dynamic overwrite would
    silently DELETE the earlier batch's rows — so the write raises
    instead.  A replay of the SAME batch id over its own values is the
    legitimate recovery case and passes.
    """
    if batch_id is not None:
        values = [
            str(r[0]) for r in batch_df.select(partition_col).distinct().collect()
        ]
        _check_and_record_partition_ownership(target, batch_id, values)
    (
        batch_df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target)
    )


def _check_and_record_partition_ownership(
    target: str, batch_id: int, values: list[str]
) -> None:
    """Driver-side split-partition guard for the idempotent sink.
    Manifests are one tiny JSON per batch (partition VALUES only, not
    data) so the check is O(batches) driver work — negligible next to
    any micro-batch.  Local-path targets only (the sandbox has no
    object store); on a real deployment the same files go through the
    Hadoop FS client, or the guard is replaced by a transactional
    table format's conflict detection."""
    import json
    from pathlib import Path
    from urllib.parse import urlparse

    parsed = urlparse(target)
    if parsed.scheme not in ("", "file"):
        import warnings

        warnings.warn(
            "partition-ownership guard skipped for non-local target "
            f"{target!r}: wire it through the Hadoop FS client or use a "
            "transactional table format",
            stacklevel=2,
        )
        return
    mdir = Path(parsed.path or target) / "_partition_manifest"
    mdir.mkdir(parents=True, exist_ok=True)
    owner: dict[str, int] = {}
    for mf in mdir.glob("batch-*.json"):
        bid = int(mf.stem.split("-", 1)[1])
        try:
            vals = json.loads(mf.read_text())
        except json.JSONDecodeError:
            # Manifests are published via os.replace, so a decode error
            # is NOT the expected truncated-writer-crash signature —
            # quarantine (keep the evidence, fail the clash check
            # loudly on the next conflicting write) rather than unlink,
            # which would silently forfeit duplicate-write detection
            # for this batch.  The replayed batch republishes a good
            # manifest under the original name.
            mf.rename(mf.with_name(mf.name + ".corrupt"))
            continue
        # OSError (transient IO) propagates: wedging this micro-batch is
        # better than dropping the safety property the sidecar provides.
        for v in vals:
            owner[v] = bid
    clash = {v: owner[v] for v in values if v in owner and owner[v] != batch_id}
    if clash:
        raise ValueError(
            f"micro-batch {batch_id} carries partition values already "
            f"written by other batches {clash}: a partition is split "
            "across batches and dynamic overwrite would lose the earlier "
            "rows. Align input files/windows to whole partitions "
            "(e.g. one day per file) and restart."
        )
    # atomic publish: write the sidecar to a temp name and os.replace it
    # so a driver crash mid-write can never leave a truncated manifest
    import os as _os

    final = mdir / f"batch-{batch_id}.json"
    tmp = mdir / f".batch-{batch_id}.json.tmp"
    tmp.write_text(json.dumps(sorted(values)))
    _os.replace(tmp, final)


def run_idempotent_partitioned_sink(
    spark: SparkSession,
    source_dir: str,
    target: str,
    ckpt: str,
    schema,
    partition_col: str = "day",
    max_files_per_trigger: int = 10,
):
    """Wire a file-source stream into apply_partition_overwrite_batch
    and drain it (availableNow-style via processAllAvailable).  The
    batch id is threaded through so the split-partition guard is
    active: misaligned inputs fail the stream instead of silently
    losing rows (`maxFilesPerTrigger` alone does NOT enforce
    file-to-partition alignment — it only sizes batches)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: apply_partition_overwrite_batch(
                df, target, partition_col, batch_id=bid
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# --- incremental corpus-dedup ingest (SURVEY.md §2.10, streaming wing) -------

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def run_incremental_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    ckpt: str,
    max_files_per_trigger: int = 1,
):
    """Streaming exact-dedup corpus ingest: documents arrive as files,
    each micro-batch keeps only texts whose content hash has never been
    seen — within the batch (lowest doc_id wins, deterministic) or in
    any PRIOR batch — and appends the survivors.

    The batch twin is operators/dedup.exact_dedup; this is its
    arrive-over-time face: the "state" is the already-ingested corpus
    itself, consulted as a hash anti-join per batch (stream-static
    join pattern — the static side re-resolves each batch, so it sees
    every previous batch's output).

    Exactly-once without a transactional table: each batch writes to
    `{out_dir}/batch-{id}` with mode=overwrite, so a crash-replay of
    batch N REPLACES its own earlier partial output instead of
    appending duplicates — idempotence via batch-id-owned directories,
    the same per-unit-ownership idea as the partition-manifest sink.
    Readers consume `{out_dir}/batch-*` as one dataset.

    Scale shape: the per-batch work is one hash shuffle of the BATCH
    (small) plus an anti-join against the corpus-so-far keyed on the
    hash — broadcastable while small, SMJ beyond; at 100 TB the static
    side would be a compacted hash index (hash, doc_id) rather than the
    full corpus re-scan this sandbox version reads."""
    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(batch_df, batch_id, out_dir)

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def ingest_dedup_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch of the incremental dedup ingest (the foreachBatch
    body, exposed for direct replay testing): keep the batch's
    lowest-doc_id row per content hash, anti-join away hashes any
    PREVIOUS batch already ingested, overwrite this batch's own output
    directory.  A replay of the same batch_id excludes its own earlier
    output from `seen` — otherwise replayed rows would anti-join
    against themselves and the batch would drain to empty."""
    import os

    sess = batch_df.sparkSession
    from pyspark.sql.window import Window as W

    hashed = batch_df.withColumn("h", F.sha2(F.col("text"), 256))
    w = W.partitionBy("h").orderBy("doc_id")
    batch_unique = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    import glob as _glob

    prior = [
        p
        for p in _glob.glob(os.path.join(out_dir, "batch-*"))
        if os.path.basename(p) != f"batch-{batch_id}"
    ]
    if prior:
        seen = sess.read.parquet(*prior).select("h")
        fresh = batch_unique.join(seen, "h", "left_anti")
    else:  # first batch: nothing ingested yet
        fresh = batch_unique
    fresh.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch-{batch_id}")
    )


def read_ingested_corpus(spark: SparkSession, out_dir: str) -> DataFrame:
    """The deduped corpus accumulated by run_incremental_dedup_ingest."""
    import os

    return spark.read.parquet(os.path.join(out_dir, "batch-*"))


TRANSITION_OUTPUT_SCHEMA = "user_id long, t_from string, t_to string, n long"
TRANSITION_STATE_SCHEMA = "last_us long, last_type string"


def stateful_transition_counts(events: DataFrame) -> DataFrame:
    """Streaming first-order Markov transition counter: per user, the
    (previous event type -> current event type) pair counts, emitted
    as per-micro-batch DELTAS in append mode (sum the output stream to
    get the cumulative matrix — the batch twin is
    plans/events.ev_markov_transitions' per-user lead()).

    State per user is O(1): the last event's (timestamp-us, type).
    The cross-batch boundary pair uses that stored last event, so the
    streamed totals equal the batch lead() totals EXACTLY whenever the
    replay delivers each user's events in (ts, event_id) order across
    micro-batches (within a batch the operator sorts; tested with an
    mtime-ordered file replay in tests/test_streaming.py).  This is
    the real-time "what do users do next" feed — the streaming face of
    the path-analysis operator family.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        types = pdf["event_type"].tolist()
        prev = state.get[1] if state.exists else None
        pairs: dict[tuple[str, str], int] = {}
        for t in types:
            if prev is not None:
                pairs[(prev, t)] = pairs.get((prev, t), 0) + 1
            prev = t
        last_us = int(
            pdf["ts"].astype("datetime64[us]").astype("int64").iloc[-1]
        )
        state.update((last_us, types[-1]))
        if pairs:
            yield pd.DataFrame(
                [
                    {"user_id": key[0], "t_from": a, "t_to": b, "n": n}
                    for (a, b), n in sorted(pairs.items())
                ]
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TRANSITION_OUTPUT_SCHEMA,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

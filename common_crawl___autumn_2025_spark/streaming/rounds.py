"""Streaming-shaped queries (SURVEY.md §2.9).

The crawl loop's micro-batch semantics live in crawl/frontier.py
(deterministic, checkpointed rounds — the engine's own state store).
This module adds the relational streaming surface: tumbling windows,
sessionization, and a true Structured Streaming runner used by tests
(parquet source → watermarked windowed agg → availableNow trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import load, register


def _stage_time_ordered(
    batch: DataFrame, n_files: int, prefix: str
) -> tuple[str, str]:
    """Stage a batch DataFrame as ``n_files`` parquet files split by
    GLOBAL (ts, event_id) range with ascending mtimes, so a
    ``maxFilesPerTrigger=1`` file stream replays it as micro-batches
    arriving in event-time order — the property that makes cross-batch
    state (sessions, dedup) deterministic. Each file is a single
    coalesced, order-preserving partition. Returns (stage_dir,
    work_dir); the caller removes both when the stream drains."""
    import os
    import shutil
    import tempfile
    import time

    stage_dir = tempfile.mkdtemp(prefix=f"{prefix}_")
    work_dir = tempfile.mkdtemp(prefix=f"{prefix}_w_")
    bucketed = batch.withColumn(
        "__b",
        F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
    )
    now = time.time()
    for i in range(1, n_files + 1):
        part = os.path.join(work_dir, f"b{i}")
        bucketed.where(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(stage_dir, f"{i:03d}.parquet")
        shutil.copyfile(os.path.join(part, files[0]), dst)
        os.utime(dst, (now + i, now + i))  # ascending arrival order
    return stage_dir, work_dir


@register(
    "st01_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def st01_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregation — the batch expression of
    the streaming windowed count (identical plan under readStream;
    see stream_events_windowed + tests/test_streaming.py)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


_SESSION_ORACLE = """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id,
           event_id
    FROM gaps
    """


@register("st02_sessionization", _SESSION_ORACLE)
def st02_sessionization(spark, sf_dir):
    """Session windows via gap detection (30-min inactivity): the
    relational form of session_window / applyInPandasWithState —
    deterministic and oracle-checkable."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        load(spark, sf_dir, "events")
        .withColumn("is_new", is_new)
        .select(
            "user_id",
            F.sum("is_new").over(cum).cast("long").alias("session_id"),
            "event_id",
        )
    )


@register("st03_stateful_sessionization", _SESSION_ORACLE)
def st03_stateful_sessionization(spark, sf_dir):
    """Catalog face of the applyInPandasWithState sessionizer: a TRUE
    stateful Structured Streaming run (3 micro-batches, state carried
    across them) whose output is defined to equal the batch window
    sessionization — so it shares st02's oracle and is fully
    value-checked by the driver."""
    return stream_sessionize_stateful(spark, sf_dir)


def stream_sessionize_stateful(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    n_files: int = 3,
) -> DataFrame:
    """CUSTOM STATEFUL STREAMING OPERATOR: sessionization via
    ``applyInPandasWithState`` (SURVEY §2.9) — per-user state
    ``(last_ts, session_id)`` carried ACROSS micro-batches.

    The events table is staged into ``n_files`` time-range files with
    ascending mtimes and consumed with ``maxFilesPerTrigger=1``, so a
    user's session genuinely spans micro-batches and the state store
    is doing real work (a single-batch run would never exercise the
    carry-over). The result must equal the batch sessionization
    (st02) exactly — asserted by tests/test_entry_and_streaming.py.

    Time-range staging guarantees per-user batch arrival in global ts
    order, which is what makes cross-batch session numbering
    deterministic (the same property event-time ordering gives a
    production stream within a watermark)."""
    import shutil

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    batch = load(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # split by global event-time range so sessions span batches
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_sess")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage_dir)
    )

    def sessionize(key, pdfs, state):
        (user_id,) = key
        last_ts, sess = state.get if state.exists else (None, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out_sess, out_eid = [], []
        for ts, eid in zip(rows["ts"], rows["event_id"]):
            t = ts.timestamp()
            if last_ts is None or t - last_ts > gap_s:
                sess += 1
            last_ts = t
            out_sess.append(sess)
            out_eid.append(eid)
        state.update((float(last_ts), int(sess)))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "session_id": pd.Series(out_sess, dtype="int64"),
                "event_id": pd.Series(out_eid, dtype="int64"),
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, session_id long, event_id long",
        stateStructType="last_ts double, session_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = "stream_sessionize_stateful_sink"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            # timed out: the availableNow drain is incomplete and the
            # memory sink holds PARTIAL sessions — stop the query and
            # fail loudly instead of returning a wrong result
            q.stop()
            raise TimeoutError(
                "stateful sessionization stream did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")


def stream_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming: parquet source, 10-min watermark,
    tumbling 1-hour windowed count, availableNow trigger draining to a
    memory sink. Returns the sink contents (tests compare to batch)."""
    import os
    import shutil
    import tempfile

    batch = load(spark, sf_dir, "events")
    # the file stream source requires a directory; expose the events
    # parquet through a temp dir (read-only testdata stays untouched)
    stage_dir = tempfile.mkdtemp(prefix="stream_events_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stage_dir, "events.parquet"),
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    # watermarks require TIMESTAMP (tz-aware); the parquet column is
    # NTZ — cast in (UTC session), cast the window back out so the
    # result aligns with the batch (NTZ) twin.
    agg = (
        stream.withColumn("ts_utc", F.col("ts").cast("timestamp"))
        .withWatermark("ts_utc", "10 minutes")
        .groupBy(F.window("ts_utc", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )
    name = "stream_events_windowed_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "windowed event stream did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")


@register("st04_streaming_record_decode")  # rows-only: binary payloads
def st04_streaming_record_decode(spark, sf_dir):
    """Streaming MULTIMODAL ingest: the canonical image+caption record
    table consumed as a file stream (one micro-batch per staged file),
    every payload decoded + verified against the independently
    re-derived reference INSIDE the stream (``decode_verify``'s
    ``mapInPandas`` is a stateless streaming transform), aggregated
    per format. Defined to equal the batch decode_verify aggregate —
    asserted by tests/test_entry_and_streaming.py; the catalog row is
    rows-only (binary payloads)."""
    return stream_records_decode(spark, sf_dir)


def stream_records_decode(
    spark: SparkSession,
    sf_dir: str,
    n_records: int = 96,
    n_files: int = 3,
    seed: int = 42,
) -> DataFrame:
    """True Structured Streaming over BINARY image records: stage the
    deterministic record table into ``n_files`` parquet files with
    ascending mtimes, consume with ``maxFilesPerTrigger=1`` so the
    decode genuinely runs per micro-batch, aggregate decode outcomes
    per format (complete mode, availableNow drain). The 100 TB shape
    of a crawl's ingest tail: records land as files, decoding rides
    the stream, only scalar per-format counters accumulate."""
    import os
    import shutil
    import tempfile
    import time

    from .. import synthetic as syn
    from ..operators.multimodal import decode_verify

    records = syn.records_df(spark, n_records, seed=seed)
    stage_dir = tempfile.mkdtemp(prefix="stream_rec_")
    work_dir = tempfile.mkdtemp(prefix="stream_rec_w_")
    bucketed = records.withColumn(
        "__b", F.ntile(n_files).over(Window.orderBy("image_id"))
    )
    now = time.time()
    for i in range(1, n_files + 1):
        part = os.path.join(work_dir, f"b{i}")
        bucketed.where(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(stage_dir, f"{i:03d}.parquet")
        shutil.copyfile(os.path.join(part, files[0]), dst)
        os.utime(dst, (now + i, now + i))

    stream = (
        spark.readStream.schema(records.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage_dir)
    )
    agg = (
        decode_verify(stream, ref_seed=seed)
        .groupBy("fmt")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("decode_ok").cast("long")).alias("n_ok"),
            F.sum(F.col("phash_match").cast("long")).alias("n_phash_ok"),
            F.sum("caption_tokens").alias("caption_tokens"),
        )
    )
    name = "stream_records_decode_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "record decode stream did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}").orderBy("fmt")


# -- st05: streaming first-occurrence dedup ----------------------------------

_ST05_ORACLE = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
"""


@register("st05_streaming_dedup", _ST05_ORACLE)
def st05_streaming_dedup(spark, sf_dir):
    """Catalog face of the streaming first-occurrence dedup: a TRUE
    Structured Streaming run (3 micro-batches, dropDuplicates state
    carried across them) whose output is defined to equal the batch
    first-occurrence per key — fully value-checked by the DuckDB
    row_number oracle."""
    return stream_first_occurrence_dedup(spark, sf_dir)


def stream_first_occurrence_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 3,
    watermark_delay: str | None = None,
) -> DataFrame:
    """STREAMING STATEFUL DEDUP (SURVEY §2.9's seen-set, in true
    Structured Streaming form — the crawl engine's Bloom seen
    store is the batch-round expression of the same operator): keep
    the FIRST event per (user_id, event_type) across micro-batches
    via ``dropDuplicatesWithinWatermark``, the variant whose state the
    watermark actually BOUNDS — plain ``dropDuplicates`` without the
    event-time column in its key set never evicts (Spark's
    StreamingDeduplicate only expires keys that carry the watermark),
    which is the unbounded-state leak a 100 TB stream cannot run.
    The honest production contract is therefore: duplicates are
    suppressed while the key is within ``watermark_delay`` of the
    stream's max event time; a duplicate arriving beyond that horizon
    re-admits its key. The default delay is DERIVED from the batch
    (event-time span + 1 hour — one cheap min/max agg, known before
    staging), so the output is exactly global first-occurrence no
    matter how wide the corpus's time range grows, and the DuckDB
    row_number oracle value-checks it; pass ``watermark_delay`` to
    set a real production horizon instead.

    Determinism: batches are staged in global (ts, event_id) order
    (``_stage_time_ordered``) and each batch is a single
    order-preserving partition, so "first arrival" == minimum
    (ts, event_id) — exactly the oracle's row_number rule, and no
    event is ever late against the watermark. In production the same
    pipeline runs on an ordered source (e.g. Kafka per-partition
    order) with the delay set to the duplicate-arrival horizon."""
    import shutil

    batch = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    if watermark_delay is None:
        # derive from the CAST column (a string ts is tolerated
        # downstream, so it must be here too); an empty table yields
        # NULL bounds — any fixed delay works for an empty stream
        ts_t = F.col("ts").cast("timestamp")
        lo, hi = batch.agg(F.min(ts_t), F.max(ts_t)).collect()[0]
        if lo is None:
            watermark_delay = "1 hour"
        else:
            span_s = int((hi - lo).total_seconds()) + 3600
            watermark_delay = f"{span_s} seconds"
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_dedup")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage_dir)
    )
    deduped = (
        stream.withColumn("ts_t", F.col("ts").cast("timestamp"))
        .withWatermark("ts_t", watermark_delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts")
    )
    name = "stream_first_occurrence_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            # timed out: the availableNow drain is incomplete and the
            # memory sink holds a PARTIAL seen-set — fail loudly
            q.stop()
            raise TimeoutError(
                "streaming dedup did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name} ORDER BY user_id, event_type")


# -- st06: streaming session windows ------------------------------------------


def _w07_oracle() -> str:
    # shared with the batch twin — one definition of the merge rule
    from ..plans.retrieval import _W07_ORACLE

    return _W07_ORACLE


@register("st06_streaming_sessions", _w07_oracle())
def st06_streaming_sessions(spark, sf_dir):
    """Catalog face of STREAMING session windows: a TRUE Structured
    Streaming run (3 micro-batches, ``session_window`` state merged
    across them, watermark-finalized append output) defined to equal
    the batch ``session_window`` rollup — so it shares w07's
    gaps-and-islands DuckDB oracle and is fully value-checked."""
    return stream_session_windows(spark, sf_dir)


def stream_session_windows(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    n_files: int = 3,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """STREAMING SESSION AGGREGATION (SURVEY §2.9): per-(user,
    session) rollups via ``session_window`` under a watermark, in
    APPEND mode — each session is emitted exactly once, when the
    watermark passes its end. This is the production shape for
    sessionizing an unbounded event stream: state holds only OPEN
    sessions (bounded by gap + delay), merges happen inside the
    streaming state store across micro-batches, and downstream
    consumers see finalized sessions incrementally.

    Batch-equality contract (what the oracle checks): batches are
    staged in global (ts, event_id) order (``_stage_time_ordered``),
    so no event is ever late and every session merge the batch twin
    (w07) performs also happens in streaming state. An availableNow
    drain stops advancing the watermark at ``max_ts - delay``, which
    would leave the tail sessions open and unemitted — so the stage
    appends one SENTINEL event (``user_id = -1``, filtered from the
    result) whose timestamp clears every real session end plus the
    delay; it models the stream simply continuing past the staged
    data, which is what finalizes sessions in production too. Session
    extent is closed at its end (an exactly-gap-distant event merges
    — pinned by the batch twin's boundary test), and the streaming
    operator shares that rule, so both twins share one oracle."""
    import datetime as _dt
    import os
    import shutil

    batch = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_sess")
    try:
        hi = batch.agg(F.max("ts")).collect()[0][0]
        flush_ts = (hi or _dt.datetime(2000, 1, 1)) + _dt.timedelta(
            hours=2  # > gap (30 min) + delay (10 min), with margin
        )
        sentinel = spark.createDataFrame(
            [(-1, -1, flush_ts, 0.0)],
            "user_id long, event_id long, ts timestamp_ntz, value double",
        ).select(*batch.columns)
        part = os.path.join(work_dir, "flush")
        sentinel.coalesce(1).write.mode("overwrite").parquet(part)
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(stage_dir, f"{n_files + 1:03d}.parquet")
        shutil.copyfile(os.path.join(part, src), dst)
        mt = (
            max(
                os.path.getmtime(os.path.join(stage_dir, f))
                for f in os.listdir(stage_dir)
            )
            + 1.0
        )
        os.utime(dst, (mt, mt))

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(stage_dir)
        )
        sessions = (
            stream.withColumn("ts_t", F.col("ts").cast("timestamp"))
            .withWatermark("ts_t", watermark_delay)
            .groupBy(F.session_window(F.col("ts_t"), gap).alias("sw"), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
                F.min("event_id").cast("long").alias("first_event"),
            )
            .select(
                "user_id",
                F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
                F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                "total_value",
                "first_event",
            )
        )
        name = "stream_session_windows_sink"
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            # timed out: the drain is incomplete and the sink holds a
            # PARTIAL session set — stop and fail loudly
            q.stop()
            raise TimeoutError(
                "session-window stream did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    # the sentinel's own session never finalizes (the watermark stops
    # short of it) but filter defensively either way
    return spark.sql(f"SELECT * FROM {name} WHERE user_id >= 0")


# -- st07: stream-static broadcast join ---------------------------------------

_ST07_ORACLE = """
    SELECT e.event_id, e.user_id,
           c.c_mktsegment AS segment,
           round(e.value, 4) AS value,
           round(c.c_acctbal, 2) AS acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@register("st07_stream_static_join", _ST07_ORACLE)
def st07_stream_static_join(spark, sf_dir):
    """Catalog face of the STREAM-STATIC JOIN: a TRUE Structured
    Streaming run (3 micro-batches) enriching each event with a
    static dimension via a per-micro-batch broadcast hash join,
    defined to equal the batch equi join — fully value-checked."""
    return stream_static_enrich(spark, sf_dir)


def stream_static_enrich(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> DataFrame:
    """STREAM-STATIC JOIN (SURVEY §2.9): enrich an unbounded event
    stream with a static dimension table — the lookup-join every
    streaming pipeline runs (events x user profile, URL x domain
    reputation). Spark executes it per micro-batch with the static
    side BROADCAST: stateless, so there is NO state store at all —
    unlike stream-stream joins, nothing accumulates, and the inner
    join emits each enriched event exactly once in append mode.

    100 TB/day shape: the stream side never shuffles (the dim
    broadcasts to every task); a dim too big to broadcast degrades to
    a shuffled join per micro-batch, at which point the production
    answer is pre-bucketing the dim on the join key or a key-value
    side-input — the operator's contract (row-for-row enrichment,
    exactly-once append) is unchanged. Batch equality is exact: no
    watermark, no state, no ordering sensitivity, so the DuckDB
    oracle is the plain equi join."""
    import os
    import shutil

    batch = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_enrich")
    try:
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(stage_dir)
        )
        enriched = (
            stream.join(
                F.broadcast(dim),
                stream["user_id"] == dim["c_custkey"],
                "inner",
            )
            .select(
                "event_id",
                "user_id",
                F.col("c_mktsegment").alias("segment"),
                F.round("value", 4).alias("value"),
                F.round("c_acctbal", 2).alias("acctbal"),
            )
        )
        name = "stream_static_join_sink"
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream-static join did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name} ORDER BY event_id")


# -- st08: stream-stream interval join ----------------------------------------

_ST08_ORACLE = """
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT)
             - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_s
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts <= c.ts AND c.ts <= v.ts + INTERVAL 4 HOUR
"""


@register("st08_stream_stream_join", _ST08_ORACLE)
def st08_stream_stream_join(spark, sf_dir):
    """Catalog face of the STREAM-STREAM INTERVAL JOIN: a TRUE
    Structured Streaming run joining two event streams (clicks x
    views, same user, click within 4 h after the view) with
    watermark-bounded buffered state — defined to equal the batch
    interval self-join, so it is fully value-checked."""
    return stream_stream_attribution(spark, sf_dir)


def stream_stream_attribution(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 3,
    horizon: str = "4 hours",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM JOIN (SURVEY §2.9): attribute each click to the
    views that preceded it within ``horizon`` for the same user —
    the ad-attribution / funnel join, the canonical stateful
    two-stream operator. Spark buffers BOTH sides in the state store
    and the time-range condition plus the watermarks bound eviction:
    a view is held only until the watermark passes ``view.ts +
    horizon`` (no later click can match it), a click only until the
    watermark passes its own timestamp — state is O(events inside
    the horizon), not O(stream).

    Batch-equality contract: both sides read the SAME staged
    event-time-ordered files (one streaming query, two file sources —
    each trigger advances both), so no row is ever late; inner-join
    results emit as matches arrive (append mode needs no watermark
    wait for INNER joins), and the drain therefore produces exactly
    the batch interval join — the DuckDB oracle."""
    import os
    import shutil

    batch = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_attr")
    try:

        def src():
            return (
                spark.readStream.schema(batch.schema)
                .option("maxFilesPerTrigger", "1")
                .option("latestFirst", "false")
                .parquet(stage_dir)
            )

        clicks = (
            src()
            .where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").cast("timestamp").alias("c_ts"),
            )
            .withWatermark("c_ts", watermark_delay)
        )
        views = (
            src()
            .where(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").cast("timestamp").alias("v_ts"),
            )
            .withWatermark("v_ts", watermark_delay)
        )
        joined = clicks.join(
            views,
            F.expr(
                "c_user = v_user AND v_ts <= c_ts "
                f"AND c_ts <= v_ts + interval {horizon}"
            ),
            "inner",
        ).select(
            "click_id",
            "view_id",
            F.col("c_user").alias("user_id"),
            (
                F.col("c_ts").cast("long") - F.col("v_ts").cast("long")
            ).alias("lag_s"),
        )
        name = "stream_stream_join_sink"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream-stream join did not drain within 300s"
            )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name} ORDER BY click_id, view_id")


# -- st09: foreachBatch exactly-once sink --------------------------------------

_ST09_ORACLE = """
    SELECT event_id, user_id,
           round(value, 4) AS value
    FROM events WHERE event_type = 'purchase'
"""


@register("st09_exactly_once_sink", _ST09_ORACLE)
def st09_exactly_once_sink(spark, sf_dir):
    """Catalog face of the FOREACHBATCH EXACTLY-ONCE SINK: a TRUE
    Structured Streaming run writing each micro-batch to a
    non-transactional sink (a partitioned parquet directory tree)
    idempotently, then reading the sink back — defined to equal the
    batch projection, so it is fully value-checked."""
    return stream_exactly_once_sink(spark, sf_dir)


def write_batch_idempotent(out_dir: str):
    """The foreachBatch writer: each micro-batch lands in its OWN
    ``batch_id=N`` directory via mode("overwrite") — the canonical
    exactly-once recipe for sinks with no transaction log. Structured
    Streaming guarantees the (batch_id, data) pairing is stable
    across failure/replay (the offsets are committed to the
    checkpoint WAL before the batch runs), so a replayed batch
    rewrites the SAME rows into the SAME directory instead of
    appending duplicates — the write is idempotent, and downstream
    readers see each input row's effect exactly once. This is the
    generic pattern for arbitrary sinks (JDBC upserts keyed by
    (batch_id, key) work identically); Spark's own file sink gets the
    same guarantee from its _spark_metadata commit log instead."""
    import os

    def write(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write


def stream_exactly_once_sink(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 3,
    out_dir: str | None = None,
) -> DataFrame:
    """FOREACHBATCH SINK (SURVEY §2.9): stream -> per-micro-batch
    idempotent write to a plain parquet tree -> read-back. The
    transformation is row-level (filter + projection), so the union
    of the per-batch outputs equals the batch query regardless of
    how rows split across micro-batches — the DuckDB oracle is that
    plain projection. ``tests/test_st09.py`` additionally replays a
    drained batch through the writer (what Spark does after a
    failure between sink write and checkpoint commit) and asserts
    the sink is byte-stable — the exactly-once property itself.

    100 TB/day shape: stateless, no shuffle — each task writes its
    own files under the batch directory; the only coordination is
    the directory rename, and batch directories make retention
    (drop batch_id < N) and reprocessing (overwrite one batch) O(1)
    metadata operations."""
    import os
    import shutil
    import tempfile

    batch = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stage_dir, work_dir = _stage_time_ordered(batch, n_files, "stream_sink")
    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="st09_sink_")  # outlives return:
        # the driver collects the returned DataFrame after this call.
        # ADVICE r6 #2: it must not outlive the PROCESS — register a
        # best-effort atexit removal so repeated catalog/bench/driver
        # invocations stop accumulating sf-scale parquet trees in /tmp
        # (each registration holds one small dir path, not data).
        import atexit

        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    ck_dir = tempfile.mkdtemp(prefix="st09_ck_")
    try:
        shipped = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(stage_dir)
            .where(F.col("event_type") == "purchase")
            .select(
                "event_id",
                "user_id",
                F.round("value", 4).alias("value"),
            )
        )
        q = (
            shipped.writeStream.foreachBatch(write_batch_idempotent(out_dir))
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("foreachBatch sink did not drain within 300s")
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(work_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
    return (
        spark.read.option("basePath", out_dir)
        .parquet(os.path.join(out_dir, "batch_id=*"))
        .select("event_id", "user_id", "value")
    )

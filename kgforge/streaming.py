"""Streaming surface.

The reference is a batch full-refresh ETL (SURVEY.md §2.9) and the
input_hint is a batch Iceberg table, so streaming is an auxiliary
surface here: the same windowed aggregations exposed batch-first (so
they are oracle-checkable), plus a Structured Streaming runner that
executes the identical logical plan from a stream source — the pytest
parity test asserts stream output == batch output on the same rows.

At production scale the stream source is Kafka/Iceberg-CDC; locally the
parity test drives a parquet directory through readStream with
`processAllAvailable()`. `run_stream_exactly_once_restart` carries the
batch pipeline's crash-safe checkpoint discipline to the streaming
sink: an idempotent per-batchId foreachBatch writer, killed in the
at-least-once window and resumed from the same checkpoint, proven
exactly-once by row parity with the batch run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from kgforge.sources import read_table

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _windowed_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window per event_type — identical plan for batch
    and stream (watermark added only on the stream path)."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(T.DecimalType(18, 4)))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def st_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-first tumbling window aggregation (oracle-checkable; the
    stream parity test runs the same plan through readStream)."""
    return _windowed_agg(read_table(spark, "events", sf_dir))


ORACLE_ST_TUMBLING_AGG = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag(ts) + cumulative sum over gap > 30 min — the
    batch expression of session_window(ts, gap). Per-user session counts
    and mean session length in events."""
    ev = read_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap arithmetic in MICROSECONDS: events carry sub-second timestamps,
    # and cast-to-long truncates in Spark while EPOCH()::BIGINT rounds in
    # DuckDB — a gap straddling 1800s at a fractional second would flip a
    # session boundary between engines. unix_micros is exact on both.
    # (cast: the parquet column is TIMESTAMP_NTZ; session TZ is UTC, so
    # NTZ->TIMESTAMP is value-preserving and unix_micros resolves)
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.withColumn(
        "new_session",
        F.when(epoch_us - F.lag(epoch_us).over(w) > 1_800_000_000, 1)
        .otherwise(0)
        .cast("int"),
    )
    sess = gaps.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


ORACLE_ST_SESSIONIZE = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id ORDER BY user_id
"""


def run_stream_parity(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Drive the windowed agg through Structured Streaming (readStream on
    the events parquet, watermark, memory sink, processAllAvailable) and
    return (stream_rows, batch_rows) for equality assertion."""
    # read the events table specifically — pointing readStream at the
    # whole sf dir unfiltered would silently ingest every sibling table
    # under the events schema as mostly-null rows. The file source wants
    # a directory, so filter by file name.
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = _windowed_agg(stream.withWatermark("ts", "1 hour"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("st_parity_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = sorted(
            spark.sql("SELECT * FROM st_parity_out").collect(),
            key=lambda r: (r["window_start"], r["event_type"]),
        )
    finally:
        q.stop()
    batch_rows = st_tumbling_agg(spark, sf_dir).collect()
    return stream_rows, batch_rows


SESSION_GAP_US = 1_800_000_000  # 30 min, microseconds — shared with st_sessionize

_SESS_OUT_SCHEMA = "user_id long, n_sessions long, n_events long"
_SESS_STATE_SCHEMA = "last_us long, n_sessions long, n_events long"


def _sessionize_group(key, pdf_iter, state):
    """Per-user session counter as an arbitrary-stateful streaming
    operator (applyInPandasWithState). State carries (last event epoch-us,
    session count, event count) across micro-batches; each batch's rows
    are folded in (ts, event_id) order, so the cumulative counts equal
    the batch window expression in st_sessionize for in-order sources.

    This is the custom-stateful-operator surface of the engine — the
    streaming twin of the lag+cumsum batch plan, for sources (Kafka/CDC)
    where the full history is never co-resident."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_us, n_sessions, n_events = state.get
    else:
        last_us, n_sessions, n_events = None, 0, 0
    for pdf in pdf_iter:
        for ts_us in pdf.sort_values(["ts_us", "event_id"])["ts_us"]:
            ts_us = int(ts_us)
            if last_us is None or ts_us - last_us > SESSION_GAP_US:
                n_sessions += 1
            last_us = ts_us
            n_events += 1
    state.update((last_us, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def run_stateful_sessionize(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "events.parquet",
) -> list:
    """Drive per-user sessionization through Structured Streaming with
    applyInPandasWithState and return the final per-user rows (the last
    update per user across micro-batches). The pytest parity test asserts
    these equal the batch st_sessionize output on the same events —
    including a multi-micro-batch run (maxFilesPerTrigger=1 over
    time-split files) where state genuinely carries across batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    updates = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        updates.writeStream.outputMode("update")
        .format("memory")
        .queryName("st_stateful_sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # update-mode memory sink appends one row per (batch, user) —
        # keep each user's LAST update (dict insertion order follows the
        # sink's batch append order)
        final: dict[int, tuple] = {}
        for r in spark.sql("SELECT * FROM st_stateful_sess_out").collect():
            final[r["user_id"]] = (r["user_id"], r["n_sessions"], r["n_events"])
    finally:
        q.stop()
    return [final[u] for u in sorted(final)]


def run_stream_kg_parity(
    spark: SparkSession,
    pages_dir: str,
    dict_df: DataFrame,
    path_glob: str = "*.parquet",
    max_files_per_trigger: int | None = None,
) -> tuple[list, list]:
    """The streaming twin of the flagship: pages through the IDENTICAL
    extract -> detect_mentions -> link_mentions plan as batch. Every
    stream-side operator is a stateless Arrow map or a broadcast join
    against static metadata (the linker's window rank runs
    DICTIONARY-side), so the batch logical plan streams unchanged in
    append mode with no state store — the shape a Kafka/Iceberg-CDC
    ingest of new crawl pages would use, emitting candidate assertions
    incrementally. Canonicalization is deliberately absent: connected
    components needs the full corpus and stays a batch/compaction stage
    (SURVEY.md §7.4).

    Returns (stream_rows, batch_rows) — sorted candidate tuples the
    parity pytest asserts equal, single- and multi-micro-batch."""
    from kgforge import ontology as O
    from kgforge.extract import extract_pages
    from kgforge.link import link_mentions
    from kgforge.mentions import detect_mentions
    from kgforge.sources import PAGES_SCHEMA

    dic, aliases = O.linker_inputs(dict_df)
    aliases = sorted(aliases)

    def stages(pages: DataFrame) -> DataFrame:
        cand = link_mentions(
            detect_mentions(extract_pages(pages, ("en",)), aliases), dic
        )
        return cand.select(
            "url", "mention_id", "surface", "kind", "canonical_id", "pred"
        )

    reader = spark.readStream.schema(PAGES_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        stages(reader.parquet(pages_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("st_kg_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM st_kg_out").collect()
        )
    finally:
        q.stop()
    batch = (
        spark.read.schema(PAGES_SCHEMA)
        .option("pathGlobFilter", path_glob)
        .parquet(pages_dir)
    )
    batch_rows = sorted(tuple(r) for r in stages(batch).collect())
    return stream_rows, batch_rows


def run_stream_dedup_parity(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 1
) -> tuple[set, set]:
    """Streaming exact-dedup twin of dd_exact: arriving document
    batches are deduplicated in-flight on the content hash via
    dropDuplicatesWithinWatermark — the Kafka/ingest shape where the
    stream guards the recent event-time window and full-corpus dedup
    remains a batch compaction stage (same division of labor as the
    streaming KG twin: state is bounded by the watermark, never
    corpus-sized). The hash is computed map-side so the state store
    keys on 16 bytes, not text bodies.

    Returns (stream_hashes, batch_hashes). Parity compares the
    surviving hash SETS: which physical copy survives is an arrival-
    order artifact (any engine's streaming dedup has this property),
    but the set of distinct contents — the thing dedup is FOR — must
    equal the batch answer exactly, and the stream must emit each hash
    exactly once (asserted by the caller via len == len(set))."""
    schema = "doc_id long, text string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
        .select(F.md5("text").alias("text_md5"), "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["text_md5"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("st_dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = spark.sql("SELECT text_md5 FROM st_dedup_out").collect()
    finally:
        q.stop()
    batch = (
        spark.read.schema(schema)
        .parquet(docs_dir)
        .select(F.md5("text").alias("text_md5"))
        .distinct()
        .collect()
    )
    stream_hashes = [r["text_md5"] for r in stream_rows]
    assert len(stream_hashes) == len(set(stream_hashes)), "hash emitted twice"
    return set(stream_hashes), {r["text_md5"] for r in batch}


def run_stream_ingest_gate_parity(
    spark: SparkSession, docs_dir: str, max_files_per_trigger: int = 1
) -> tuple[list, list]:
    """Streaming twin of the training-data ingest gates: the quality
    keep-flag (tx_quality's battery), the deterministic sampler
    (tx_sample's bucket-vs-rate), and the PII scrub (tx_redact) are all
    stateless per-row expressions, so the IDENTICAL plan runs over
    readStream micro-batches and over the batch DataFrame — no state
    store, no watermark, parity is row-for-row equality (unlike the
    dedup twin, where survival is arrival-order-dependent and only the
    set is comparable). This is the live-crawl shape: filter + sample +
    scrub documents as they land, leaving dedup/decontam to the batch
    compaction stage.

    Returns (stream_rows, batch_rows), both sorted by doc_id."""
    from kgforge.operators.textstats import _sample_cols, redact

    schema = "doc_id long, text string, source string"

    def gates(df: DataFrame) -> DataFrame:
        words = F.split(F.col("text"), " ")
        n_words = F.size(words)
        mean_wl = (F.length("text") - (n_words - 1)) / n_words
        bucket, rate = _sample_cols()
        kept = df.select(
            "doc_id", "text", bucket, rate,
            ((n_words >= 10) & (mean_wl >= 2.0) & (mean_wl <= 12.0)).alias("keep"),
        ).filter(F.col("keep") & (F.col("bucket") < F.col("rate_permille")))
        return redact(kept)

    stream = gates(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("st_gate_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = spark.sql(
            "SELECT * FROM st_gate_out ORDER BY doc_id"
        ).collect()
    finally:
        q.stop()
    batch_rows = (
        gates(spark.read.schema(schema).parquet(docs_dir))
        .orderBy("doc_id")
        .collect()
    )
    return stream_rows, batch_rows


def run_stream_robots_parity(
    spark: SparkSession, frontier_dir: str, host_rules: DataFrame,
    max_files_per_trigger: int = 1
) -> tuple[list, list]:
    """Streaming twin of the robots.txt crawl gate: in production the
    frontier IS a stream (urls discovered as pages land), and the
    politeness decision must be taken per micro-batch. robots_filter is
    a stateless stream-static join (the rule table is static metadata,
    broadcast into each micro-batch) plus in-row winner logic — no
    state store, no watermark, so parity with the batch plan is
    row-for-row. Returns (stream_rows, batch_rows) sorted by doc_id."""
    from kgforge.operators.dedup import robots_filter

    schema = "doc_id long, host string, path string"
    stream = robots_filter(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(frontier_dir),
        host_rules,
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("st_robots_out")
        .start()
    )
    try:
        q.processAllAvailable()
        stream_rows = spark.sql(
            "SELECT * FROM st_robots_out ORDER BY doc_id"
        ).collect()
    finally:
        q.stop()
    batch_rows = (
        robots_filter(spark.read.schema(schema).parquet(frontier_dir), host_rules)
        .orderBy("doc_id")
        .collect()
    )
    return stream_rows, batch_rows


class _InjectedCrash(RuntimeError):
    """Deterministic mid-stream failure injected by the recovery test."""


def run_stream_exactly_once_restart(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    ckpt_dir: str,
    fail_after: int = 2,
    max_files_per_trigger: int = 1,
) -> tuple[list, list, list[int]]:
    """Exactly-once file sink + checkpoint recovery — the streaming twin
    of the batch pipeline's crash-safe checkpoint discipline
    (kgforge/checkpoint.py, kgforge/incremental.py).

    foreachBatch writes each micro-batch to `out_dir/bid=<batchId>` with
    mode=overwrite: the batchId is stable across a replay (the file
    source's offset log pins which input files batch N contains), so an
    idempotent per-batch overwrite makes the sink exactly-once even
    though foreachBatch itself is at-least-once. The first query CRASHES
    after the write for batch `fail_after` lands but before Structured
    Streaming records the batch commit — the worst-case window, where an
    at-least-once sink without idempotence would double the batch. A
    second query started on the SAME checkpoint replays that batch
    (same id, same input files, overwriting the same directory) and
    drains the remaining input.

    Returns (sink_rows, batch_rows, batch_ids): the recovered sink's
    contents, the same stateless gate run in plain batch mode, and the
    sorted distinct bid= values found in out_dir — contiguity proves no
    batch was skipped, equality of the row lists proves none was
    doubled."""
    schema = "doc_id long, text string, source string"

    def gate(df: DataFrame) -> DataFrame:
        words = F.split(F.col("text"), " ")
        return df.select(
            "doc_id",
            F.size(words).alias("n_words"),
            F.length("text").alias("n_chars"),
        ).filter(F.col("n_words") >= 3)

    def make_sink(crash_at: int | None):
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(f"{out_dir}/bid={batch_id}")
            if crash_at is not None and batch_id == crash_at:
                raise _InjectedCrash(f"injected crash after batch {batch_id}")

        return sink

    def start(crash_at: int | None):
        stream = gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(docs_dir)
        )
        return (
            stream.writeStream.foreachBatch(make_sink(crash_at))
            .option("checkpointLocation", ckpt_dir)
            .start()
        )

    q = start(crash_at=fail_after)
    try:
        q.processAllAvailable()
        raise AssertionError("injected crash did not fire (too few batches?)")
    except Exception as e:  # StreamingQueryException wraps the injected error
        if "_InjectedCrash" not in str(type(e)) and "injected crash" not in str(e):
            raise
    finally:
        q.stop()

    q2 = start(crash_at=None)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    import re
    from pathlib import Path

    batch_ids = sorted(
        int(m.group(1))
        for p in Path(out_dir).iterdir()
        if (m := re.fullmatch(r"bid=(\d+)", p.name))
    )
    sink_rows = [
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "n_words", "n_chars")
        .orderBy("doc_id")
        .collect()
    ]
    batch_rows = [
        tuple(r)
        for r in gate(spark.read.schema(schema).parquet(docs_dir))
        .orderBy("doc_id")
        .collect()
    ]
    return sink_rows, batch_rows, batch_ids


PAGES_STREAM_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_incremental_ingest(
    spark: SparkSession,
    out_dir: str,
    dict_path: str,
    pages_dir: str,
    work_dir: str,
    max_files_per_trigger: int = 1,
) -> int:
    """Live-crawl ingestion: the streaming front door to the incremental
    merge-on-read engine. Page files arriving in `pages_dir` are read as
    a file stream; each micro-batch lands as ONE incremental batch via
    foreachBatch -> incremental_update, so the stored layout, metrics,
    crash-safe atomic batch commit, and representative-stability
    semantics are EXACTLY the batch path's — streaming adds only arrival
    scheduling.

    Exactly-once across micro-batch replays: foreachBatch is
    at-least-once, and incremental_update treats every call as a new
    batch, so a replay would re-ingest the same urls as a duplicate
    increment. The guard is an anti-join against every COMMITTED
    mapping's urls (base + visible increments — the same recovery read
    incremental_update itself performs): a replayed batch arrives fully
    known and is skipped; a batch that crashed mid-ingest left no
    visible increment (atomic rename) and re-runs cleanly.

    Returns the number of increments ingested by this call."""
    import os

    from kgforge.incremental import incremental_update, read_committed

    n_ingested = 0

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_ingested
        known = read_committed(spark, out_dir, "canon_mapping", "mapping", ["url"])
        fresh = batch_df.join(known, "url", "left_anti")
        p = os.path.join(work_dir, f"stream_batch_{batch_id}")
        fresh.write.mode("overwrite").parquet(p)
        if spark.read.parquet(p).limit(1).count() == 0:
            return  # replayed batch: everything already committed
        incremental_update(spark, out_dir, p, dict_path, auto_compact_after=None)
        n_ingested += 1

    q = (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return n_ingested


RANGE_JOIN_MAX_DUR = "INTERVAL 96 HOURS"  # promo windows are <= 96h


def run_stream_range_join_parity(
    spark: SparkSession,
    events_dir: str,
    promos_dir: str,
    max_files_per_trigger: int = 1,
) -> tuple[set, set]:
    """Stream-stream interval join — the streaming twin of
    rel_range_join: an unbounded event stream joined to an unbounded
    promo-window stream on half-open containment
    [start_ts, end_ts). The binned shape is not an optimization here —
    it is REQUIRED: Spark rejects stream-stream joins without an
    equality predicate outright ("Stream-stream join without equality
    predicate is not supported"), so the raw theta form that batch
    Spark would at least limp through as a nested loop does not run at
    all. Events map to one 6-hour bucket, promo windows explode to the
    buckets they overlap, and the bucket id is the equi key. Both
    sides carry watermarks, and the join condition keeps the
    time-range constraint between the two event-time columns
    (`ts <= start_ts + 96h`, the bounded interval duration) so the
    symmetric hash join can evict state: promo state drops once the
    event watermark passes start_ts + 96h, event state once the promo
    watermark passes ts. Inner stream-stream joins emit matches
    eagerly (the watermark gates only state eviction, not result
    emission), so the streamed result must equal the batch theta join
    exactly.

    Returns (stream_pairs, batch_pairs) of (event_id, promo_id); the
    caller asserts equality."""
    from kgforge.operators.relational import RANGE_BIN_US

    ev = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
        .withWatermark("ts", "1 hour")
        .withColumn("bin", (F.unix_micros("ts") / RANGE_BIN_US).cast("long"))
    )
    pr = (
        spark.readStream.schema(
            "promo_id int, start_ts timestamp, end_ts timestamp"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(promos_dir)
        .withWatermark("start_ts", "1 hour")
        .withColumn(
            "bin",
            F.explode(
                F.sequence(
                    (F.unix_micros("start_ts") / RANGE_BIN_US).cast("long"),
                    ((F.unix_micros("end_ts") - 1) / RANGE_BIN_US).cast("long"),
                )
            ),
        )
    )
    joined = (
        ev.alias("ev")
        .join(
            pr.alias("pr"),
            (F.col("ev.bin") == F.col("pr.bin"))
            & (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("end_ts"))
            & (F.col("ts") <= F.expr(f"start_ts + {RANGE_JOIN_MAX_DUR}")),
            "inner",
        )
        .select("event_id", "promo_id")
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("st_range_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["promo_id"])
            for r in spark.sql("SELECT * FROM st_range_out").collect()
        }
        # structural check while the query is live: this must execute as
        # a symmetric hash join (both sides buffered + watermark-evicted),
        # not a static-side broadcast
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        assert "StreamingSymmetricHashJoin" in buf.getvalue()
    finally:
        q.stop()
    ev_b = spark.read.parquet(events_dir)
    pr_b = spark.read.parquet(promos_dir)
    want = {
        (r["event_id"], r["promo_id"])
        for r in ev_b.join(
            pr_b,
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")),
        ).collect()
    }
    return got, want


QUERIES = {
    "st_tumbling_agg": st_tumbling_agg,
    "st_sessionize": st_sessionize,
}

ORACLES = {
    "st_tumbling_agg": ORACLE_ST_TUMBLING_AGG,
    "st_sessionize": ORACLE_ST_SESSIONIZE,
}

"""Structured Streaming variants of the batch operators.

The reference is a batch-to-completion runtime with no streaming, but two
of its event semantics map directly (SURVEY.md §1.3):
  IDEM events ("first satisfy wins", `/root/reference/src/event/hc/
  hc-event.c:202-208`)  -> dedup-on-arrival (dropDuplicates within the
  watermark);
  LATCH counters        -> windowed stateful counts.

Each helper returns a started query writing to an in-memory sink; callers
(tests, demos) use ``q.processAllAvailable()`` to drive a parquet-backed
stream to completion synchronously. On a cluster the same plans run
against file/Kafka sources unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

EVENTS_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def _parse_kafka_uri(uri: str) -> tuple[str, str]:
    """``kafka://host1:9092,host2:9092/topic`` -> (bootstrap servers,
    topic). Pure so the routing is unit-testable without a broker."""
    rest = uri[len("kafka://") :]
    servers, _, topic = rest.rpartition("/")
    if not servers or not topic:
        raise ValueError(
            f"kafka events URI must be kafka://<bootstrap-servers>/<topic>, got {uri!r}"
        )
    return servers, topic


def _read_events_kafka(spark: SparkSession, uri: str):
    """Kafka twin of the file source: same output columns, so every
    s-family plan builder runs unchanged on a cluster ingest topic
    (JSON-encoded event rows in the message value). Requires the
    spark-sql-kafka connector jar — absent in this sandbox, where tests
    exercise the dispatch + URI parse only (SCALING.md §streaming)."""
    servers, topic = _parse_kafka_uri(uri)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return (
        raw.select(F.from_json(F.col("value").cast("string"), EVENTS_DDL).alias("e"))
        .select("e.*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
):
    # source seam: a kafka:// URI routes to the connector source with
    # the same columns; anything else is a directory for the file source
    if sf_dir.startswith("kafka://"):
        return _read_events_kafka(spark, sf_dir)
    # the file source requires a directory: stream the sf dir, glob-
    # filtered to the events file(s)
    reader = spark.readStream.schema(EVENTS_DDL).option(
        "pathGlobFilter", "events*.parquet"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir if sf_dir.endswith("/") else sf_dir + "/").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def tumbling_counts(spark: SparkSession, sf_dir: str, name: str = "tumbling_out"):
    """Streaming twin of q19_tumbling_window (1h windows, 2h watermark)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )


def session_windows(spark: SparkSession, sf_dir: str, name: str = "sessions_out"):
    """Session windows with a 30-minute gap — the streaming twin of
    q09_sessionize's lag+cumsum construction."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )


def dedup_on_arrival(spark: SparkSession, sf_dir: str, name: str = "dedup_out"):
    """IDEM-event semantics: the first event_id wins, later duplicates are
    silently dropped (state bounded by the watermark)."""
    events = read_events_stream(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        deduped.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )


MILESTONE_CENTS = 50_000  # emit every 500.00 of accumulated value


def value_milestones(
    spark: SparkSession,
    sf_dir: str,
    name: str = "milestones_out",
    max_files_per_trigger: int | None = None,
):
    """Custom stateful operator via applyInPandasWithState — the
    FINISH_LATCH analogue (reference latch counters: `/root/reference/
    src/event/hc/hc-event.c:223-259`): per-user accumulated `value`, one
    output row each time the running total crosses a 500-unit milestone.

    Not expressible as a built-in windowed agg (arbitrary emission
    points from running state). Value is accumulated in integer cents so
    the streaming loop and the batch twin (`value_milestones_batch`)
    agree exactly — no float-order drift at milestone boundaries.
    State per key: (cum_cents, emitted, last (ts, event_id)) — O(1),
    unbounded-stream safe.

    Ordering contract: running-total milestones are only well-defined
    over an event-time-ordered stream, so each group's events must
    arrive in event-time order ACROSS micro-batches (within a batch the
    operator sorts the whole group itself). That holds for the staged
    corpus (single trigger) and for time-partitioned ingestion where a
    batch's files cover a later time range than every previous batch —
    the deployment shape for crawl pipelines. Cross-batch regressions
    are detected via the (ts, event_id) high-water mark in state and
    raise loudly instead of silently accumulating in arrival order
    (tests/test_streaming.py exercises both the ordered multi-batch run
    and the detection path)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    events = read_events_stream(spark, sf_dir, max_files_per_trigger)

    from decimal import ROUND_HALF_UP, Decimal

    def spark_round_cents(v: float) -> int:
        """Exact twin of the batch twin's F.round(value * 100): the IEEE
        double product, then HALF_UP on its shortest decimal repr —
        Spark's round() algorithm. Python's builtin round() is banker's
        rounding and diverges at exact .5 sub-cent midpoints."""
        p = float(v) * 100.0
        return int(Decimal(repr(p)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    def fn(key, pdfs, state):
        (user_id,) = key
        cum, emitted, last_ts, last_eid = (
            state.get if state.exists else (0, 0, -(1 << 62), -(1 << 62))
        )
        out_users, out_ms, out_cents = [], [], []
        # buffer ALL Arrow chunks of the group, then sort once: sorting
        # each chunk independently makes cum_cents at a milestone
        # crossing depend on chunk arrival order for multi-chunk groups
        whole = pd.concat(list(pdfs), ignore_index=True)
        # rows with no event time have no place in an event-time-ordered
        # accumulation: drop them BEFORE the ordered loop (NaT sorts
        # last in pandas but ts.value is then -2**63, which would trip
        # the high-water regression check spuriously)
        whole = whole[whole["ts"].notna()].sort_values(["ts", "event_id"])
        for ts, eid, v in zip(whole["ts"], whole["event_id"], whole["value"]):
            ts_ms = int(ts.value // 1_000_000)
            if (ts_ms, int(eid)) < (last_ts, last_eid):
                # cross-batch event-time regression: accumulating in
                # arrival order would silently diverge from the batch
                # truth — fail loudly (see ordering contract above)
                raise ValueError(
                    f"value_milestones: out-of-order arrival for user {user_id}: "
                    f"event {eid} at {ts} behind high-water mark "
                    f"({last_ts} ms, event {last_eid})"
                )
            last_ts, last_eid = ts_ms, int(eid)
            if pd.isna(v):
                continue
            cum += spark_round_cents(v)
            while cum >= (emitted + 1) * MILESTONE_CENTS:
                emitted += 1
                out_users.append(user_id)
                out_ms.append(emitted)
                out_cents.append(cum)
        state.update((cum, emitted, last_ts, last_eid))
        if out_users:
            yield pd.DataFrame(
                {"user_id": out_users, "milestone": out_ms, "cum_cents": out_cents}
            )

    milestones = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, milestone int, cum_cents long",
            stateStructType="cum long, emitted int, last_ts long, last_eid long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        milestones.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )


def value_milestones_batch(spark: SparkSession, sf_dir: str):
    """Batch twin of value_milestones: window cumsum in integer cents +
    explode of the milestones each row crosses. Differential check for
    the stateful operator."""
    from pyspark.sql import Window as W

    events = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("value").isNotNull())
    )
    cents = F.round(F.col("value") * 100).cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    cum = F.sum(cents).over(w)
    df = events.select(
        "user_id",
        cum.alias("cum_cents"),
        (cum / MILESTONE_CENTS).cast("int").alias("m_after"),
        F.coalesce(
            (F.lag(cum).over(w) / MILESTONE_CENTS).cast("int"), F.lit(0)
        ).alias("m_before"),
    )
    return df.filter(F.col("m_after") > F.col("m_before")).select(
        "user_id",
        F.explode(F.sequence(F.col("m_before") + 1, F.col("m_after"))).alias(
            "milestone"
        ),
        "cum_cents",
    )


def streaming_extract(spark: SparkSession, pages_dir: str, name: str = "extract_out"):
    """Structured Streaming twin of the batch extraction pipeline: the
    identical plan (extract_pages: size-bucket repartition, then the
    mapInPandas EXTRACT stage) over a file-source stream of page
    parquet. On a cluster this is the continuous-ingest shape (new WARC
    drops land in the table path and are extracted incrementally); the
    batch job stays the backfill/restart path.

    The bucket exchange is kept for its skew defusal only (a stream has
    no commit markers); AQE is off in streaming, so each micro-batch runs
    spark.sql.shuffle.partitions extract tasks.

    No watermark: extraction is stateless per document, so the stream
    needs no event-time state — exactly the IDEM/once semantics of the
    batch commit markers, provided per-batch by the sink's epoch id.
    """
    from ocr_spark.extract.pipeline import extract_pages

    pages = (
        spark.readStream.schema("url string, warc_ts timestamp_ntz, html binary, text string, lang string")
        .option("pathGlobFilter", "*.parquet")
        .parquet(pages_dir)
    )
    out = extract_pages(pages).select(
        "url", "branch", "n_blocks_kept", F.octet_length("extracted_text").alias("n_bytes")
    )
    return (
        out.writeStream.outputMode("append").format("memory").queryName(name).start()
    )


def stream_static_enrich(
    spark: SparkSession, sf_dir: str, name: str = "enrich_out"
):
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch — the dimension is
    re-resolvable each batch, so a slowly-refreshed dim table works
    unchanged), aggregated per (event_type, mktsegment)."""
    events = read_events_stream(spark, sf_dir)
    dim = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        events.join(F.broadcast(dim), "user_id", "left")
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )


def sliding_counts(spark: SparkSession, sf_dir: str, name: str = "sliding_out"):
    """Sliding (hopping) windows: 1-hour windows every 30 minutes — each
    event lands in two windows; watermark bounds state like tumbling."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )


def click_purchase_join(spark: SparkSession, sf_dir: str, name: str = "ss_join_out"):
    """Stream-STREAM inner join (the attribution shape): each click joins
    purchases by the same user within the following 30 minutes.

    Both sides carry watermarks and the join condition includes the
    event-time range — that is what lets Spark expire join state: a
    buffered click can be dropped once the purchase-side watermark
    passes click_ts + 30min, so state is bounded by the time window at
    any stream length (without the range the state grows forever)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )

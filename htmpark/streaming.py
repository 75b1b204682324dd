"""Structured Streaming facade over the same extraction core.

The north rule asks for a resumable BATCH job (htmpark.job delivers that);
this module additionally exposes the engine through Structured Streaming for
pipelines that tail a landing zone of page files:

* ``extract_pages_stream`` — readStream(parquet dir) -> the same vectorized
  mapInPandas parse -> parquet sink with checkpointing.  Stateless, so it
  scales exactly like the batch plan; exactly-once via the stream
  checkpoint + file sink log.
* ``windowed_event_counts`` — the watermark + tumbling-window aggregation
  shape over an events stream (late data bounded by the watermark).

Both are exercised with trigger(availableNow=True) in tests, which is also
the production backfill pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .job import OUTPUT_SCHEMA, _drop_zip_finders, _parse_batches, python_stage

CORPUS_DDL = ("url string, warc_ts timestamp, html binary, text string, "
              "lang string")


def extract_pages_stream(spark: SparkSession, input_path: str,
                         output_path: str, checkpoint_path: str,
                         trigger_available_now: bool = True):
    """Stream page files through the extraction core.  Returns the query."""
    sdf = (spark.readStream.schema(CORPUS_DDL)
           .option("maxFilesPerTrigger", "64")
           .parquet(input_path)
           .select("url", "warc_ts", "html", "lang"))
    out = sdf.mapInPandas(python_stage(_parse_batches), OUTPUT_SCHEMA)
    writer = (out.writeStream.format("parquet")
              .option("path", output_path)
              .option("checkpointLocation", checkpoint_path)
              .outputMode("append"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events: DataFrame, window: str = "1 minute",
                          watermark: str = "5 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming-safe plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"))
        .select(F.col("win.start").alias("win_start"), "event_type",
                "n_events", "value_cents")
    )


def click_attribution_stream(events: DataFrame, gap_minutes: int = 120,
                             watermark: str = "10 minutes") -> DataFrame:
    """STREAM-STREAM inner join: attribute each purchase to every click by
    the same user in the preceding ``gap_minutes`` (the ad-attribution
    shape).  Both sides are branches of one watermarked event stream.

    Scale semantics: a stream-stream join buffers BOTH sides in state; it
    is only viable because (a) the equality key (user_id) partitions state,
    and (b) the event-time RANGE condition plus the watermarks lets Spark
    evict a buffered click once the purchase-side watermark passes
    click_ts + gap (and vice versa) — without the time bound the state
    grows forever.  Inner-join rows emit as soon as both sides arrive;
    completeness over a bounded replay (availableNow) equals the batch
    join, which is exactly what the oracle checks.  Output gap is exact
    integer microseconds; value is exact cents."""
    clicks = (events.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    buys = (events.where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("buy_id"),
                    F.col("ts").alias("buy_ts"),
                    F.col("value"))
            .withWatermark("buy_ts", watermark))
    cond = ((F.col("c_user") == F.col("b_user"))
            & (F.col("buy_ts") > F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts")
               + F.expr(f"INTERVAL {gap_minutes} MINUTES")))
    # timestampdiff handles both legs of the twin (stream schema declares
    # TIMESTAMP, the parquet batch twin reads TIMESTAMP_NTZ) and never
    # routes through a session-timeZone-dependent cast
    return (clicks.join(buys, cond, "inner")
            .select(F.col("c_user").alias("user_id"), "click_id", "buy_id",
                    F.expr("timestampdiff(MICROSECOND, click_ts, buy_ts)")
                    .alias("gap_us"),
                    F.round(F.col("value") * 100).cast("bigint")
                     .alias("value_cents")))


def dedup_pages_stream(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup (the streaming twin of the dedup_exact query):
    keep the first page per content hash seen within the watermark window.

    ``dropDuplicatesWithinWatermark`` keeps one state row per distinct hash
    and EVICTS it once the watermark passes — bounded state at any scale,
    which plain dropDuplicates (grow-forever state) cannot promise on an
    unbounded crawl stream.  Dedup key is md5 of the raw html bytes."""
    return (pages
            .withColumn("content_md5", F.md5(F.col("html")))
            .withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_md5"]))


SESSION_OUTPUT_DDL = ("user_id long, session_start timestamp, n_events long, "
                      "duration_s long, value_cents long")
_SESSION_STATE_DDL = ("start_us long, last_us long, n_events long, "
                      "value_cents long")


def sessionize_stream(events: DataFrame, gap_s: int = 300,
                      watermark: str = "1 second") -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    ``applyInPandasWithState`` (the streaming twin of the batch
    ``rel_event_sessions`` query; stream-equals-batch is pinned in tests).

    State per active user: (session_start, last_event, n_events,
    value_cents) as int64 epoch-micros/counters — no timezone-dependent
    objects cross the Arrow boundary.  Sessions close two ways: a
    same-batch gap (emitted immediately) or an event-time timeout at
    last_event + gap once the watermark passes it.  At scale: state is
    per-ACTIVE-user only, the watermark bounds state size and late data,
    and the shuffle key is user_id (same partitioning as the batch twin).
    Money stays integer cents (engine-exact against the batch/DuckDB
    oracle)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        _drop_zip_finders()
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, cents = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "n_events": [n],
                "duration_s": [(last_us - start_us) // 1_000_000],
                "value_cents": [cents],
            })
            return
        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        # normalize to epoch micros regardless of pandas ns/us resolution
        ts_us = rows["ts"].values.astype("datetime64[us]").astype("int64")
        # half-UP cents, BIT-matching the batch twin's F.round and the
        # DuckDB oracle.  pandas .round() is half-to-even (emits 12 for
        # value=0.125 where batch emits 13), and floor(x*100 + 0.5) is
        # wrong one ulp below the boundary (0.49999999999999994 + 0.5
        # rounds UP to 1.0 in binary64).  Spark's Round is
        # BigDecimal.valueOf(double) -> HALF_UP, and Double.toString is
        # the shortest round-trip repr — exactly Python repr(float) — so
        # Decimal(repr(v*100)) + ROUND_HALF_UP reproduces it bit-for-bit
        # (the *100 stays a binary64 multiply on both sides).
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        cents = [int(Decimal(repr(float(v) * 100)).quantize(one, ROUND_HALF_UP))
                 for v in rows["value"]]
        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us, last_us, n, total = -1, -1, 0, 0
        out = {"user_id": [], "session_start": [], "n_events": [],
               "duration_s": [], "value_cents": []}
        for t_us, c in zip(ts_us, cents):
            t_us = int(t_us)
            if start_us >= 0 and t_us - last_us > gap_us:
                out["user_id"].append(user_id)
                out["session_start"].append(pd.Timestamp(start_us, unit="us"))
                out["n_events"].append(n)
                out["duration_s"].append((last_us - start_us) // 1_000_000)
                out["value_cents"].append(total)
                start_us, n, total = -1, 0, 0
            if start_us < 0:
                start_us = t_us
            last_us = t_us
            n += 1
            total += int(c)
        state.update((start_us, last_us, n, total))
        state.setTimeoutTimestamp((last_us + gap_us) // 1000 + 1)  # ms
        if out["user_id"]:
            yield pd.DataFrame(out)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUTPUT_DDL, _SESSION_STATE_DDL, "append",
            GroupStateTimeout.EventTimeTimeout)
    )


def run_sessionize_stream(spark: SparkSession, input_path: str,
                          output_path: str, checkpoint_path: str,
                          gap_s: int = 300, max_files_per_trigger: int = 1):
    """readStream(events parquet) -> stateful sessionize -> parquet sink."""
    sdf = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string")
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .parquet(input_path))
    out = sessionize_stream(sdf, gap_s=gap_s)
    return (out.writeStream.format("parquet")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def run_windowed_events_stream(spark: SparkSession, input_path: str,
                               output_path: str, checkpoint_path: str):
    """readStream(events parquet) -> watermark+window agg -> parquet sink."""
    sdf = (spark.readStream
           .schema("event_id long, ts timestamp, user_id long, "
                   "event_type string, value double, props string")
           .parquet(input_path))
    agg = windowed_event_counts(sdf)
    return (agg.writeStream.format("parquet")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())

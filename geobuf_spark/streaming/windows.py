"""Event-time windowing + sessionization over the events stream.

The reference is a pull-based bounded reader (SURVEY §2.7) — no event-time
semantics exist there; these are the Structured-Streaming-shaped operators
our engine adds. Each has a batch twin (identical results on bounded
input) used for oracle checks; the streaming twin runs the same logical
plan through readStream with a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Tumbling-window counts/sums per event_type, window start as epoch
    seconds (integer — oracle-exact)."""
    secs = minutes * 60
    # floor division (not double-divide + truncating cast): pre-1970
    # events must land in the window STARTING BEFORE them, matching
    # F.window's semantics in the streaming twin
    wstart = F.floor(F.unix_timestamp("ts").cast("bigint") / F.lit(secs)).cast("bigint") * F.lit(secs)
    return (
        events.withColumn("wstart", wstart)
        .groupBy("wstart", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("value") > 0.5, 1)).alias("n_high"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: lag + cumsum of gap breaks.

    Returns (user_id, session_id, n_events, t_start, t_end as epochs)."""
    gap = gap_minutes * 60
    # order by (floored epoch, event_id) — the oracle orders identically, so
    # session numbering agrees even when timestamps tie within a second
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    ep = F.floor(F.unix_timestamp("ts")).cast("bigint")
    with_gap = events.withColumn("ep", ep).withColumn(
        "new_sess",
        F.when(F.col("ep") - F.lag("ep").over(w) > gap, 1)
        .otherwise(F.when(F.lag("ep").over(w).isNull(), 1).otherwise(0)),
    )
    sess = with_gap.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ep").alias("t_start"),
        F.max("ep").alias("t_end"),
    )


def tumbling_counts_streaming(spark: SparkSession, parquet_dir: str,
                              minutes: int = 5, watermark: str = "10 minutes") -> DataFrame:
    """The same tumbling aggregation as a Structured Streaming plan over a
    file source with an event-time watermark. Use
    `run_stream_to_memory` to drive it to completion on bounded input."""
    schema = spark.read.parquet(parquet_dir).schema
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    # parquet may carry TIMESTAMP_NTZ; watermarks need TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("bigint").alias("wstart"),
            "event_type", "n_events",
        )
    )


def sessionize_streaming(spark: SparkSession, parquet_dir: str,
                         gap_minutes: int = 30,
                         max_files_per_trigger: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization with
    applyInPandasWithState. State per user is O(1) — (open session id,
    count, t_start, t_last), never the event list (r4 review: the old
    state held every open-session event, the exact unbounded-state
    failure mode the dedup docstring warns about). A batch's events fold
    into the open session or close it and start new ones; closed rows
    are FINAL, the open session re-emits snapshots under its stable id
    (is_open=True) — downstream keeps the last row per (user, id).

    Ordering contract: sessions close as event time advances WITHIN the
    arrival order; an event arriving in a later micro-batch with an
    event time at or before an already-closed session starts a NEW
    session instead of reopening the closed one (closed rows stay
    final). The batch twin :func:`sessionize` therefore matches on
    in-order replays — which the file source's modification-time
    ordering provides and the pytest pins — not on arbitrarily late
    data; a production deployment bounds that skew with a watermark
    upstream, the same trade `dropDuplicatesWithinWatermark` makes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = gap_minutes * 60
    schema = spark.read.parquet(parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(parquet_dir) \
        .withColumn("ts", F.col("ts").cast("timestamp")) \
        .withColumn("ep", F.floor(F.unix_timestamp("ts")).cast("bigint"))

    out_schema = ("user_id bigint, session_id bigint, n_events bigint, "
                  "t_start bigint, t_end bigint, is_open boolean")
    state_schema = ("open_id bigint, n_open bigint, t_start bigint, "
                    "t_last bigint")

    def fn(key, pdfs, state: GroupState):
        # sess rows: [n_events, t_start, t_end]; element 0 carries the
        # open session from state so the generic merge below handles the
        # continue/close decision uniformly
        sess: list[list[int]] = []
        if state.exists:
            open_id, n0, s0, l0 = (int(v) for v in state.get)
            sess.append([n0, s0, l0])
        else:
            open_id = 1
        eps = np.sort(np.concatenate(
            [pdf["ep"].to_numpy(dtype=np.int64) for pdf in pdfs]
            or [np.zeros(0, np.int64)]))
        if len(eps):
            b = np.ones(len(eps), dtype=bool)
            b[1:] = np.diff(eps) > gap
            starts = np.flatnonzero(b)
            ends = np.append(starts[1:], len(eps)) - 1
            for s_i, e_i in zip(starts, ends):
                c, s, e = int(e_i - s_i + 1), int(eps[s_i]), int(eps[e_i])
                if sess and s - sess[-1][2] <= gap:
                    sess[-1][0] += c
                    sess[-1][2] = max(sess[-1][2], e)
                else:
                    sess.append([c, s, e])
        rows = []
        for off, (c, s, e) in enumerate(sess[:-1]):
            rows.append((key[0], open_id + off, c, s, e, False))
        if sess:
            oid = open_id + len(sess) - 1
            c, s, e = sess[-1]
            rows.append((key[0], oid, c, s, e, True))
            state.update((oid, c, s, e))
        yield pd.DataFrame(rows, columns=["user_id", "session_id", "n_events",
                                          "t_start", "t_end", "is_open"])

    return (
        stream.select("user_id", "ep")
        .groupBy("user_id")
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    )


def run_stream_to_memory(df: DataFrame, name: str = "stream_out",
                         output_mode: str = "complete") -> DataFrame:
    """Drive a bounded streaming query to completion into a memory sink.

    Aggregation plans use "complete"; stateful map plans
    (applyInPandasWithState) require output_mode="append"."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory").queryName(name).start()
    )
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def sliding_counts(events: DataFrame, length_minutes: int = 10,
                   slide_minutes: int = 5) -> DataFrame:
    """Hopping-window counts per event_type: each event lands in
    length/slide overlapping windows (explode over the covered starts) —
    the batch twin of `F.window(ts, length, slide)`."""
    if length_minutes % slide_minutes:
        raise ValueError("length must be a multiple of slide")
    L, S = length_minutes * 60, slide_minutes * 60
    k = L // S
    ep = F.unix_timestamp("ts").cast("bigint")
    # newest window containing ep starts at floor(ep/S)*S; older ones step back
    newest = F.floor(ep / F.lit(S)).cast("bigint") * F.lit(S)
    starts = F.array(*[newest - F.lit(i * S) for i in range(k)])
    return (
        events.withColumn("wstart", F.explode(starts))
        .filter((F.col("wstart") >= 0))
        .groupBy("wstart", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


def sliding_counts_streaming(spark: SparkSession, parquet_dir: str,
                             length_minutes: int = 10, slide_minutes: int = 5,
                             watermark: str = "10 minutes") -> DataFrame:
    """The same hopping aggregation as a Structured Streaming plan."""
    schema = spark.read.parquet(parquet_dir).schema
    stream = spark.readStream.schema(schema).parquet(parquet_dir) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{length_minutes} minutes", f"{slide_minutes} minutes"),
                 F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("bigint").alias("wstart"),
            "event_type", "n_events",
        )
        # F.window emits negative window starts for events within
        # length-slide of the epoch; the batch twin and the oracle both
        # drop them — keep the twins identical on any input
        .filter(F.col("wstart") >= 0)
    )


def enrich_events(events: DataFrame, dim: DataFrame,
                  on_left: str = "user_id", on_right: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment: events joined to a dimension table.

    Works identically on a batch DataFrame and a readStream DataFrame —
    Spark broadcasts the static side into every micro-batch (stream-static
    joins never shuffle the stream). Returns per-(segment, event_type)
    counts — the typical enriched rollup."""
    joined = events.join(
        dim.select(F.col(on_right).alias(on_left), "c_mktsegment"), on_left, "left")
    return (
        joined.groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
                       "event_type")
        .agg(F.count("*").alias("n_events"))
    )


def enrich_events_streaming(spark: SparkSession, events_dir: str,
                            dim: DataFrame) -> DataFrame:
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return enrich_events(stream, dim)


def tile_event_counts(events: DataFrame, z: int = 6, minutes: int = 10) -> DataFrame:
    """Geo × event-time rollup: every event gets a minted lattice point
    (mulmod over user_id — the same overflow-safe arithmetic as the
    documents geometries, identical formula text on both engines), its
    web-mercator tile at zoom z, and a tumbling-window count per
    (window, tile) — the streaming analog of the tile histogram the
    reference's splitter materializes (split_combine.go:145,186-232).

    One shuffle; group keys (wstart, z, x, y) are the partition layout a
    100 TB cluster would write, so the aggregation is the final state."""
    from geobuf_spark.functions import tiles
    from geobuf_spark.sources import minted

    secs = minutes * 60
    lon, lat = minted.sql_lonlat("user_id")
    return (
        events.selectExpr(
            f"CAST(floor(CAST(unix_timestamp(ts) AS BIGINT) / {secs}) AS BIGINT)"
            f" * {secs} AS wstart", f"{lon} AS lon", f"{lat} AS lat")
        .selectExpr("wstart", f"{z} AS z", f"{tiles.sql_tile_x('lon', z)} AS x",
                    f"{tiles.spark_tile_y('lat', z)} AS y")
        .groupBy("wstart", "z", "x", "y")
        .agg(F.count("*").alias("n_events"))
    )


def tile_event_counts_streaming(spark: SparkSession, parquet_dir: str,
                                z: int = 6, minutes: int = 10,
                                watermark: str = "30 minutes") -> DataFrame:
    """Structured Streaming twin of :func:`tile_event_counts`: same mint +
    tile expressions, `F.window` with an event-time watermark. On bounded
    input both produce identical rows."""
    from geobuf_spark.functions import tiles
    from geobuf_spark.sources import minted

    schema = spark.read.parquet(parquet_dir).schema
    stream = spark.readStream.schema(schema).parquet(parquet_dir) \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    lon, lat = minted.sql_lonlat("user_id")
    return (
        stream.withWatermark("ts", watermark)
        .selectExpr("ts", f"{lon} AS lon", f"{lat} AS lat")
        .selectExpr("ts", f"{tiles.sql_tile_x('lon', z)} AS x",
                    f"{tiles.spark_tile_y('lat', z)} AS y")
        .groupBy(F.window("ts", f"{minutes} minutes"), "x", "y")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).cast("bigint").alias("wstart"),
            F.lit(z).alias("z"), "x", "y", "n_events",
        )
    )


def click_attribution(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """Stream-stream-join shape, batch twin: every purchase joined to the
    same user's clicks in the preceding `window_minutes` (inclusive of
    simultaneous) — (buy_id, click_id, user_id, lag_sec).

    The join is an equi-join on user_id with event-time range predicates,
    so it shuffles once on the user key; at 10^12 events the range
    predicates prune within each user's co-partitioned rows and no
    time-bucket blowup is needed (contrast temporal.range_bucket_join,
    which exists for UNKEYED interval joins)."""
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").cast("timestamp").alias("click_ts")))
    buys = (events.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("buy_id"),
                    F.col("ts").cast("timestamp").alias("buy_ts")))
    j = buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")),
    )
    return j.select(
        "buy_id", "click_id", "user_id",
        (F.unix_timestamp("buy_ts") - F.unix_timestamp("click_ts"))
        .cast("long").alias("lag_sec"))


def click_attribution_streaming(spark: SparkSession, parquet_dir: str,
                                window_minutes: int = 30,
                                watermark: str = "1 hour") -> DataFrame:
    """TRUE stream-stream inner join with event-time bounds: two readStream
    scans of the same source, watermarks on both sides, and the range
    condition bounding the join state — Spark retains only `watermark +
    window` of click state per user instead of the whole stream. Batch
    twin: :func:`click_attribution`; on bounded input both emit the same
    (buy_id, click_id) pairs (pytest-pinned)."""
    schema = spark.read.parquet(parquet_dir).schema

    def _side():
        s = spark.readStream.schema(schema).parquet(parquet_dir)
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (_side().filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    buys = (_side().filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("buy_id"),
                    F.col("ts").alias("buy_ts"))
            .withWatermark("buy_ts", watermark))
    j = buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES")),
    )
    return j.select(
        "buy_id", "click_id", "user_id",
        (F.unix_timestamp("buy_ts") - F.unix_timestamp("click_ts"))
        .cast("long").alias("lag_sec"))


def dedup_events(events: DataFrame) -> DataFrame:
    """Batch twin of stream dedup: first occurrence per event_id (exact
    dedup on the stream key — the training-pipeline guard against source
    replays / at-least-once ingestion)."""
    return events.dropDuplicates(["event_id"])


def dedup_events_streaming(spark: SparkSession, parquet_dir: str,
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup via dropDuplicatesWithinWatermark: state holds
    only `watermark` of seen keys instead of the whole stream's (the
    unbounded-state failure mode of plain dropDuplicates on streams).
    Within one bounded replay the emitted set equals the batch twin's
    (pytest-pinned); duplicates farther apart than the watermark are the
    documented approximation every production deduper makes."""
    schema = spark.read.parquet(parquet_dir).schema
    stream = (spark.readStream.schema(schema).parquet(parquet_dir)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", watermark))
    return stream.dropDuplicatesWithinWatermark(["event_id"])

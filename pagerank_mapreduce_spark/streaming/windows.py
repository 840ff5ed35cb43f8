"""Structured Streaming over the events table.

The reference is strictly batch (MR-MPI has no streaming surface —
SURVEY.md §2.5); this module is the engine's Structured-Streaming
extension per the north star. Each transformation is expressed once
and works on BOTH a batch DataFrame and a streaming DataFrame — the
batch form is what the DuckDB oracle checks in the query catalog
(stream_* entries); tests run the same logic through ``readStream``
with ``trigger(availableNow=True)`` to exercise the streaming
machinery (watermarks, state stores, late-data drop).

Scale notes: watermark + windowed aggregation keeps state bounded;
``dropDuplicatesWithinWatermark`` ages dedup state out; session
windows use Spark's built-in session-window state merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch slice). Schema comes from the batch reader; the ts
    column carries the same nanos→micros conversion."""
    from pyspark.sql.types import LongType

    # Derive the on-disk schema from a batch footer read so the stream
    # tracks fixture drift (ts has shipped as both int64 nanos and
    # timestamp[us]); convert only when it actually arrives as int64.
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # FileStreamSource needs a directory or glob, not a bare file path
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(f"{sf_dir}/events*.parquet")
    if isinstance(raw_schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        # timestamp[us] arrives as TIMESTAMP_NTZ; normalize to
        # session-tz TIMESTAMP (UTC) to match the batch loader.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window count+sum per event_type with late-data drop."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt", "total")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based merge); state is Spark's
    built-in session-window store, bounded by the watermark."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_events(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Stateful streaming dedup. In streaming mode the state store
    holds one entry per key within the watermark horizon; batch mode
    degrades to dropDuplicates."""
    keys = keys or ["user_id", "event_type"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def stateful_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful operator: running (n_events, total_value) per
    user, maintained across micro-batches in an explicit state store
    via ``applyInPandasWithState`` — the streaming analogue of the
    reference's per-group reduce UDF surface (SURVEY.md §2.4; MR-MPI
    reduce callbacks, src/mapreduce.cpp:1688-1777), with state that
    OUTLIVES a single group invocation.

    Streaming: one state entry per user (two numbers — bounded by the
    key cardinality, not the event volume); each batch emits the
    updated totals for the users it touched. Batch: degrades to the
    equivalent algebraic aggregation (what the DuckDB oracle checks).
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        cnt, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((cnt, tot))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [round(tot, 4)],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="cnt bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, mode: str = "complete"):
    """Drain an availableNow stream into an in-memory table for tests;
    returns the StreamingQuery (caller awaits termination)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def trending_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-(1h window, event_type) counts — the stream-safe half of
    trending-top-k. Works identically on a batch or streaming frame
    (watermark applied only when streaming); the rank step lives in
    :func:`topk_trending` because window functions cannot run inside
    a streaming aggregation — apply it in ``foreachBatch`` or on the
    complete-mode sink table, the standard two-stage trending shape."""
    ev = events
    if ev.isStreaming:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )


def topk_trending(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` event types per window by count (ties → type name) —
    rank-filter compiles to a map-side WindowGroupLimit prune."""
    from pyspark.sql.window import Window

    rk = F.row_number().over(
        Window.partitionBy("ws").orderBy(F.desc("cnt"), F.asc("event_type"))
    )
    return counts.withColumn("rk", rk).filter(F.col("rk") <= k).drop("rk")


def drift_bin_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    lo: float = 0.0,
    hi: float = 10.0,
    n_bins: int = 10,
) -> DataFrame:
    """Per-(1h window, value bin) counts — the stream-safe half of a
    windowed PSI drift monitor (fixed-width bins over [lo, hi] with
    clamping, the operators/evaluation.py psi convention). Works
    identically on batch and streaming frames; the PSI step lives in
    :func:`windowed_psi` because it needs the full bin grid per
    window and a broadcast reference — the foreachBatch / complete-
    sink stage, same two-stage shape as trending."""
    ev = events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
    if ev.isStreaming:
        ev = ev.withWatermark("ts", watermark)
    width = (hi - lo) / n_bins
    bin_id = F.least(
        F.greatest(
            F.floor((F.col("value").cast("double") - lo) / width).cast(
                "int"
            ),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), bin_id.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "bin", "n")
    )


def reference_bins(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 10.0,
    n_bins: int = 10,
) -> DataFrame:
    """Reference bin PROPORTIONS from a training snapshot (batch) —
    n_bins rows, broadcast into :func:`windowed_psi`. ε-floored so a
    bin empty in the snapshot cannot produce an infinite log."""
    counts = drift_bin_counts(events, lo=lo, hi=hi, n_bins=n_bins)
    tot = counts.groupBy("bin").agg(F.sum("n").alias("n"))
    t = F.broadcast(tot.agg(F.sum("n").alias("_t")))
    return tot.crossJoin(t).select(
        "bin",
        F.greatest(F.col("n") / F.col("_t"), F.lit(1e-6)).alias("p_ref"),
    )


def windowed_psi(
    cur_counts: DataFrame,
    ref_props: DataFrame,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """PSI per window of the current bin counts against the broadcast
    reference proportions. The full 0..n_bins-1 grid is materialized
    per window (a window missing a bin the reference has MUST
    contribute (ε - p_ref)·ln(ε/p_ref), else drift under-counts), so
    the per-window relation is exactly n_bins rows — the grid explode
    is bins × windows, never data-sized. Output: (ws, n_events, psi),
    one row per window."""
    wins = cur_counts.groupBy("ws").agg(F.sum("n").alias("_t"))
    grid = wins.select(
        "ws",
        "_t",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    # grid derives FROM cur_counts, so a bare ["ws", "bin"] join is a
    # self-join with shared attribute ids; re-aliasing the right side
    # mints fresh ids and makes the join unambiguous
    cur2 = cur_counts.select(
        F.col("ws").alias("_cws"),
        F.col("bin").alias("_cbin"),
        F.col("n").alias("_cn"),
    )
    joined = (
        grid.join(
            cur2,
            (F.col("ws") == F.col("_cws"))
            & (F.col("bin") == F.col("_cbin")),
            "left",
        )
        .select(
            "ws",
            "bin",
            "_t",
            F.coalesce(F.col("_cn"), F.lit(0)).alias("n"),
        )
        .withColumn(
            "p_cur", F.greatest(F.col("n") / F.col("_t"), F.lit(1e-6))
        )
        .join(
            F.broadcast(
                cur_counts.sparkSession.range(n_bins)
                .select(F.col("id").cast("int").alias("bin"))
                .join(ref_props, "bin", "left")
                .select(
                    "bin",
                    F.coalesce("p_ref", F.lit(1e-6)).alias("p_ref"),
                )
            ),
            "bin",
        )
    )
    contrib = (F.col("p_cur") - F.col("p_ref")) * F.log(
        F.col("p_cur") / F.col("p_ref")
    )
    return (
        joined.groupBy("ws")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum(contrib), round_to).alias("psi"),
        )
    )


def windowed_ks(
    cur_counts: DataFrame,
    ref_props: DataFrame,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per window of the
    current bin distribution against the broadcast reference — the
    KS twin of :func:`windowed_psi` over the SAME windowed bin
    relation (one monitor pipeline, two symmetric diagnostics; PSI is
    contribution-additive and ε-floored, KS is the max CDF gap and
    needs no floor). The full 0..n_bins-1 grid is materialized per
    window so a bin missing from a window still advances both CDFs
    correctly; each cumulative window partition is exactly n_bins
    rows, never data-sized. The reference CDF is normalized by its
    own mass so reference_bins' ε floor cannot tilt it. Output:
    (ws, n_events, ks), one row per window, ks ∈ [0, 1]."""
    from pyspark.sql.window import Window

    wins = cur_counts.groupBy("ws").agg(F.sum("n").alias("_t"))
    grid = wins.select(
        "ws",
        "_t",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    # same self-join aliasing note as windowed_psi: grid derives FROM
    # cur_counts, so the right side needs fresh attribute ids
    cur2 = cur_counts.select(
        F.col("ws").alias("_cws"),
        F.col("bin").alias("_cbin"),
        F.col("n").alias("_cn"),
    )
    ref = F.broadcast(
        cur_counts.sparkSession.range(n_bins)
        .select(F.col("id").cast("int").alias("bin"))
        .join(ref_props, "bin", "left")
        .select(
            "bin",
            # a bin absent from the snapshot has zero reference mass —
            # no ε here; KS has no log to blow up
            F.coalesce("p_ref", F.lit(0.0)).alias("p_ref"),
        )
    )
    joined = (
        grid.join(
            cur2,
            (F.col("ws") == F.col("_cws"))
            & (F.col("bin") == F.col("_cbin")),
            "left",
        )
        .select(
            "ws",
            "bin",
            "_t",
            F.coalesce(F.col("_cn"), F.lit(0)).alias("n"),
        )
        .join(ref, "bin")
    )
    cum = (
        Window.partitionBy("ws")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f_cur = F.sum("n").over(cum) / F.col("_t")
    f_ref = F.sum("p_ref").over(cum) / F.sum("p_ref").over(
        Window.partitionBy("ws")
    )
    gap = F.abs(f_cur - f_ref)
    return (
        joined.select("ws", "n", gap.alias("_g"))
        .groupBy("ws")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.max("_g"), round_to).alias("ks"),
        )
    )


def tumbling_ohlc(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window OHLC candles per event_type — the streaming
    twin of ``operators.sessions.ohlc_resample`` (same algebraic
    min_by/max_by-over-(ts, event_id) aggregation, so the state store
    holds one constant-size candle per open window and late data past
    the watermark is dropped instead of reopening candles). On a
    batch input the same expression runs as the plain aggregation,
    which is what the oracle checks."""
    src = (
        events.withWatermark("ts", watermark)
        if events.isStreaming
        else events
    )
    src = src.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    order = F.struct(F.col("ts"), F.col("event_id"))
    v = F.col("value").cast("double")
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(v), 6).alias("vsum"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            "vsum",
        )
    )
